package graft

import org.apache.spark.sql.functions._
import graft.extensions.{Multimodal, Similarity, TextAnalysis, TextDedup}
import graft.extensions.Kmeans.Assigner.{Exact, Routed, Routed3}

/** Unit coverage for the training-data extension operators. */
class ExtensionsSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("BPE induction: hand-computed pair counts and three merge " +
       "rounds, including a word that collapses to ONE symbol after " +
       "round 1 (the sequence(1,0) descending-range trap)") {
    // words: banana, band, an, anna (the "Don't!" is separator noise)
    val docs = docsDf(1L -> "banana band", 2L -> "an anna Don't!")
    // by hand — "don't" splits at the apostrophe into don + t (t is
    // len-1, dropped): an 5 (banana x2, band, an, anna), na 3
    // (banana x2, anna), ba 2 (banana, band), nd/nn/do/on 1 each
    val counts = graft.extensions.Bpe.charPairCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("an" -> 5L, "na" -> 3L, "ba" -> 2L,
      "nd" -> 1L, "nn" -> 1L, "do" -> 1L, "on" -> 1L))
    // round 1 fuses an->A: banana->bAAa, band->bAd, an->A (1 symbol!),
    // anna->Ana, don->dA? no — don has no 'an'; don->don, t dropped
    // (len 1). round 2 pairs: bA 2 (bAAa, bAd), AA/Aa/Ad/An/na 1,
    // do/on 1 -> fuses bA->B. round 3 pairs: BA,Aa (BAa), Bd, An,na
    // (Ana), do,on — all 1, lexicographic smallest wins: 'Aa' < 'An'
    // < 'BA' < 'Bd' < lowercase.
    val merges = graft.extensions.Bpe.mergeTable(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(merges.toSeq == Seq((1, "an", 5L), (2, "bA", 2L),
      (3, "Aa", 1L)))
  }

  test("BPE encode: learned 3-round merges applied per doc, including " +
       "the 1-char words the trainer skips and an all-separator doc " +
       "that drops out") {
    // merges learned on this fixture (pinned above): an->A, bA->B, Aa->C
    val docs = docsDf(1L -> "banana band", 2L -> "an anna Don't!",
      3L -> "?!... 123")
    val out = graft.extensions.Bpe.encodeStats(docs, "doc_id", "text",
        rounds = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // doc 1: banana->bAAa->BAa->BC (2), band->bAd->Bd (2):
    //   2 words, 10 chars, 4 syms
    // doc 2: an->A (1), anna->Ana (3 — "Ana" pairs are An/na, the
    //   round-3 merge Aa does NOT hit), don->don (3), t->t (1, the
    //   len-1 word the TRAINER drops but the encoder must count):
    //   4 words, 10 chars, 8 syms
    // doc 3: no alphabetic words -> dropped
    assert(out.toSeq == Seq(
      (1L, 2L, 10L, 4L, 0.4),
      (2L, 4L, 10L, 8L, 0.8)))
  }

  test("BPE encode: a corpus that runs OUT of fusable pairs before the " +
       "requested rounds applies only the merges that exist (no NULL " +
       "placeholder poisoning)") {
    // one distinct pair: round 1 fuses ab->A, rounds 2-3 have no pairs
    // (every word is a single symbol) and emit no merge row
    val docs = docsDf(1L -> "ab ab")
    val merges = graft.extensions.Bpe.collectMerges(docs, "text",
      rounds = 3)
    assert(merges == Seq((1, "ab", 2L)))
    val out = graft.extensions.Bpe.encodeStats(docs, "doc_id", "text",
        rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // ab ab -> A A: 2 words, 4 chars, 2 syms — NOT null
    assert(out.toSeq == Seq((1L, 2L, 4L, 2L, 0.5)))
  }

  test("BPE id-domain: hand-computed 3-round induction over the word-" +
       "frequency table, greedy non-overlapping apply, and encode " +
       "fingerprints (including the trainer-skipped 1-char word)") {
    // corpus: aaab ×2, ab ×1 (ids a=0, b=1). By hand:
    //   round 1 pairs: (0,0)=4 (two per aaab ×2), (0,1)=3 → fuse
    //     (0,0)→26; aaab→[26,0,1] (greedy: the 2nd/3rd 'a' do NOT
    //     re-pair), ab→[0,1]
    //   round 2: (26,0)=2, (0,1)=3 → fuse (0,1)→27; → [26,27], [27]
    //   round 3: (26,27)=2 → fuse →28; → [28], [27]
    //   round 4: no pairs anywhere → training STOPS (3 merges from 4)
    val docs = docsDf(1L -> "aaab aaab ab")
    val merges = graft.extensions.Bpe.collectMergesIds(docs, "text",
      rounds = 4)
    assert(merges == Seq((1, 0, 0, 4L), (2, 0, 1, 3L), (3, 26, 27, 2L)))
    val tbl = graft.extensions.Bpe.mergeTableIds(spark, merges)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4)))
    assert(tbl.toSeq == Seq((1, 0, 0, 26, 4L), (2, 0, 1, 27, 3L),
      (3, 26, 27, 28, 2L)))
    // encode "aaab ab a": aaab→[28], ab→[27], a→[0] (1-char word the
    // TRAINER skipped but the encoder must carry; no merge matches a
    // single symbol). n_chars=7, n_syms=3, sum=55, wsum=1·28+1·27+1·0
    val enc = graft.extensions.Bpe.encodeIdsStats(
        docsDf(9L -> "aaab ab a", 10L -> "?! 123"), "doc_id", "text",
        merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(enc.toSeq == Seq((9L, 3L, 7L, 3L, 55L, 55L, 3.0 / 7.0)))
    // the greedy scan really is non-overlapping left-to-right:
    // "aaa" under merge (0,0) → [26, 0], never [0, 26] or [26, 26]
    val tri = graft.extensions.Bpe.encodeIdsStats(
        docsDf(1L -> "aaa"), "doc_id", "text", Seq((1, 0, 0, 99L)))
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
    // [26, 0]: n_syms=2, sum=26, wsum=1·26+2·0=26
    assert(tri.toSeq == Seq((2L, 26L, 26L)))
  }

  test("vocab-scale BPE trainer (VERDICT r17 #1): the driver-" +
       "incremental Sennrich loop is BIT-EQUAL to the sequential " +
       "per-round-job trainer — hand fixture, overlap pathology, and " +
       "a seeded synthetic corpus trained to exhaustion — and fails " +
       "fast over the word-type ceiling") {
    // hand fixture (same corpus as the sequential test above)
    val docs = docsDf(1L -> "aaab aaab ab")
    assert(graft.extensions.Bpe.collectMergesIdsFast(docs, "text",
        rounds = 4) ==
      Seq((1, 0, 0, 4L), (2, 0, 1, 3L), (3, 26, 27, 2L)))
    // overlap pathology: counts are positional (overlaps counted),
    // application is non-overlapping left-to-right — the delta
    // bookkeeping must retract BOTH (a,a) occurrences of "aaa" when
    // one merge consumes them
    val tri = docsDf(1L -> "aaaa aaa baab")
    assert(graft.extensions.Bpe.collectMergesIdsFast(tri, "text", 6) ==
      graft.extensions.Bpe.collectMergesIds(tri, "text", 6))
    // seeded synthetic corpus over the full alphabet, trained past
    // exhaustion: both trainers must emit the same merges AND stop at
    // the same round
    val rnd = new scala.util.Random(42)
    val synth = docsDf(1L -> Seq.fill(60)(
      (1 to 2 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString).mkString(" "))
    val seqM = graft.extensions.Bpe.collectMergesIds(synth, "text", 200)
    val fastM = graft.extensions.Bpe.collectMergesIdsFast(synth, "text", 200)
    assert(seqM.nonEmpty && fastM == seqM)
    // the fail-fast word-type ceiling
    val ex = intercept[IllegalArgumentException](
      graft.extensions.Bpe.collectMergesIdsFast(synth, "text", 5,
        maxWordTypes = 3))
    assert(ex.getMessage.contains("maxWordTypes"))
  }

  test("BPE vocab artifact + decode (VERDICT r16 #4): minted tokens " +
       "are the merge-replay expansions, and decode(encode(w)) " +
       "round-trips every word including encoder-only 1-char words") {
    import spark.implicits._
    // same hand-computed fixture as above: merges (0,0)→26 "aa",
    // (0,1)→27 "ab", (26,27)→28 "aa"+"ab" = "aaab"
    val docs = docsDf(1L -> "aaab aaab ab")
    val merges = graft.extensions.Bpe.collectMergesIds(docs, "text",
      rounds = 4)
    val vocab = graft.extensions.Bpe.vocabOf(merges)
    assert(vocab.length == 29) // 26 base + 3 minted
    val vmap = vocab.map(v => v._1 -> v._2).toMap
    assert(vmap(26) == "aa" && vmap(27) == "ab" && vmap(28) == "aaab")
    assert(vocab.take(26).forall { case (_, _, r, c) => r == 0 && c == 0L })
    assert(vocab.find(_._1 == 28).contains((28, "aaab", 3, 2L)))
    assert(graft.extensions.Bpe.vocabFrame(spark, merges)
      .columns.toSeq == Seq("id", "token", "round", "cnt"))
    // round-trip: decode(encodeWord(w)) == w — merged words, partial
    // matches, 1-char words the trainer never saw
    val bad = Seq("aaab", "ab", "a", "b", "aaa", "baaabab", "zq")
      .toDF("w")
      .select(col("w"), graft.extensions.Bpe.decodeIds(
        graft.extensions.Bpe.encodeWord(col("w"), merges), merges)
        .as("rt"))
      .collect().filterNot(r => r.getString(0) == r.getString(1))
    assert(bad.isEmpty, bad.mkString(", "))
    // an id outside the vocabulary raises instead of silently
    // vanishing from the concatenation
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq(99))).toDF("ids")
        .select(graft.extensions.Bpe.decodeIds(col("ids"), merges))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("outside the trained")),
      s"unexpected failure: $ex")
  }

  test("k-means: a ragged vector (length != centroid dimension) raises " +
       "loudly instead of corrupting centroid sums") {
    import spark.implicits._
    val m = graft.extensions.Kmeans.lloyd(
      Seq(0L -> Array(0f, 0f), 1L -> Array(2f, 0f))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, rounds = 1)
    val ragged = Seq(9L -> Array(1f, 0f, 5f)).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      graft.extensions.Kmeans.assign(ragged, "vec_id", "embedding", Exact(m))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("centroid dimension")),
      s"unexpected failure: $ex")
  }

  test("k-means: hand-computed 2-cluster Lloyd — fixed-point centroid " +
       "updates, quantized inertia, stable round-2 fixpoint, and the " +
       "argmin tie to the smaller cluster id") {
    import spark.implicits._
    val vecs = Seq(
      0L -> Array(0f, 0f), 1L -> Array(10f, 10f),
      2L -> Array(1f, 0f), 3L -> Array(0f, 1f),
      4L -> Array(9f, 10f), 5L -> Array(10f, 9f)
    ).toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 2)
    // round 1: {0,2,3} -> cluster 0 (seed (0,0)), {1,4,5} -> cluster 1;
    // centroids are the exact quantized-long means (1/3, 1/3) and
    // (29/3, 29/3)
    val r1 = m.centroids(0).toMap.map { case (c, v) => c -> v.toSeq }
    assert(r1 == Map(
      0 -> Seq(1000000.0 / 3e6, 1000000.0 / 3e6),
      1 -> Seq(29000000.0 / 3e6, 29000000.0 / 3e6)))
    // assignment is already stable -> round 2 reproduces the same
    // fixed-point centroids bit-for-bit
    val r2 = m.centroids(1).toMap.map { case (c, v) => c -> v.toSeq }
    assert(r2 == r1)
    // round-1 inertia: four unit distances, quantized = 4,000,000;
    // round 2 strictly tighter (centroids moved to the means)
    assert(m.inertiaQ(0) == 4000000L)
    assert(m.inertiaQ(1) < m.inertiaQ(0))
    val assigned = graft.extensions.Kmeans
      .assign(vecs, "vec_id", "embedding", Exact(m))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned == Map(0L -> 0, 2L -> 0, 3L -> 0,
                           1L -> 1, 4L -> 1, 5L -> 1))
    // argmin tie: a point equidistant to both centroids goes to the
    // SMALLER cluster id (the struct-ordering guarantee)
    val m2 = graft.extensions.Kmeans.lloyd(
      Seq(0L -> Array(0f, 0f), 1L -> Array(2f, 0f))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, rounds = 1)
    val tie = graft.extensions.Kmeans.assign(
        Seq(9L -> Array(1f, 0f)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", Exact(m2))
      .collect()
    assert(tie.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq == Seq((9L, 0, 1000000L)))
  }

  test("routed k-means assignment: two-level decision hand-computed, " +
       "and the nProbe=1 approximation boundary is visible (a vector " +
       "whose true nearest centroid lives in the non-routed super)") {
    import spark.implicits._
    // 4 singleton clusters at x = 0, 1, 10, 11 (centroids = the points)
    val pts = Seq(0L -> Array(0f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(10f, 0f), 3L -> Array(11f, 0f))
      .toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(pts, "vec_id", "embedding",
      k = 4, rounds = 1)
    assert(m.last.toMap.map { case (c, v) => c -> v.toSeq } == Map(
      0 -> Seq(0.0, 0.0), 1 -> Seq(1.0, 0.0),
      2 -> Seq(10.0, 0.0), 3 -> Seq(11.0, 0.0)))
    // super round: init s0=(0,0), s1=(1,0); updated s0=(0,0),
    // s1=(22/3, 0); membership s0={c0,c1}, s1={c2,c3}
    val qs = Seq(100L -> Array(1.5f, 0f), 101L -> Array(4.5f, 0f))
      .toDF("vec_id", "embedding")
    val routing = graft.extensions.Kmeans.framedRoutingFor(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 2)
    val routed = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(routing))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    // (1.5, 0) routes to s0 (2.25 < 34.03) and lands on c1, d = 0.25
    assert(routed(100L) == ((1, 250000L, 0)))
    // (4.5, 0): TRUE nearest is c1 (d 12.25) in super 0, but the route
    // argmin picks s1 (8.03 < 20.25) -> within {c2, c3} the answer is
    // c2, d = 30.25 — the documented nProbe=1 trade, deterministic
    assert(routed(101L) == ((2, 30250000L, 1)))
    val exact = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Exact(m))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(exact(101L) == 1, "fixture must make routed != exact")
    // nProbe=2 probes BOTH supers and recovers the exact answer the
    // nProbe=1 route missed: (4.5, 0) now sees {c0, c1} ∪ {c2, c3} and
    // the argmin lands on the true nearest c1 (d 12.25), reported
    // against its own super 0; (1.5, 0) is unchanged (its true best
    // was already in the routed super)
    val routed2 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(routing, nProbe = 2))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(routed2(100L) == ((1, 250000L, 0)))
    assert(routed2(101L) == ((1, 12250000L, 0)))
  }

  test("framed k-means assignment: member centroids as a FRAME " +
       "reproduce the hand-computed two-level routed decision " +
       "(same supers, same argmin, same dq, same ties)") {
    import spark.implicits._
    val pts = Seq(0L -> Array(0f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(10f, 0f), 3L -> Array(11f, 0f))
      .toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(pts, "vec_id", "embedding",
      k = 4, rounds = 1)
    val qs = Seq(100L -> Array(1.5f, 0f), 101L -> Array(4.5f, 0f),
      102L -> Array(10.5f, 0f)) // exact distance tie c2/c3 in super 1
      .toDF("vec_id", "embedding")
    val framedRouting = graft.extensions.Kmeans.framedRoutingFor(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 2)
    val framed = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(framedRouting))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3))).toSet
    // the routed-test decisions (supers s0 = {c0, c1}, s1 = {c2, c3}),
    // plus the tie case: (10.5, 0) is 0.25 from both c2 and c3 and the
    // frame-side fold keeps the smaller id
    assert(framed == Set((100L, 1, 250000L, 0), (101L, 2, 30250000L, 1),
      (102L, 2, 250000L, 1)))
    // multi-probe: per-slot member-array folds + cross-slot least
    // recover (4.5, 0), whose true best c1 lives in the second-nearest
    // super; the other two rows are unchanged
    val framed2 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(framedRouting, nProbe = 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(framed2 == Set((100L, 1, 250000L, 0), (101L, 1, 12250000L, 0),
      (102L, 2, 250000L, 1)))
  }

  test("three-level framed assignment (VERDICT r16 #2): degenerate " +
       "1x1 routing is the exact argmin bit-for-bit, and the 2x2 " +
       "hierarchy routes super -> mid -> leaf with bounded array rows") {
    import spark.implicits._
    val pts = Seq(0L -> Array(0f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(10f, 0f), 3L -> Array(11f, 0f))
      .toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(pts, "vec_id", "embedding",
      k = 4, rounds = 1)
    val qs = Seq(100L -> Array(1.5f, 0f), 101L -> Array(4.5f, 0f),
      102L -> Array(10.5f, 0f)) // exact distance tie c2/c3
      .toDF("vec_id", "embedding")
    // nSupers=1, nMids=1: one super, one mid holding ALL members —
    // the leaf argmin IS the exact assignment (cluster, dq equal;
    // super and mid both 0)
    val r11 = graft.extensions.Kmeans.framedRoutingFor3(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 1, nMids = 1)
    val deg = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r11))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    val exact = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Exact(m))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        0, 0)).toSet
    assert(deg == exact)
    // the tie still breaks to the smaller cluster id through the
    // member-array fold
    assert(deg.exists(t => t._1 == 102L && t._2 == 2 && t._3 == 250000L))
    // 2x2: supers split {c0,c1} / {c2,c3}, each super anchors its own
    // single-member mids — every joined array row holds at most
    // ceil(k/(nSupers*nMids)) = 1 member, and the decision matches
    // the two-level route (leaf cells of 1 can't change an argmin
    // the mid level already made; here mid centroids ARE the members)
    val r22 = graft.extensions.Kmeans.framedRoutingFor3(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 2, nMids = 2)
    val a22 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r22))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val twoLevel = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(graft.extensions.Kmeans.framedRoutingFor(
          graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
          "cluster", "cv", nSupers = 2)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(a22 == twoLevel)
    // leaf member arrays really are k^(1/3)-bounded here: no
    // (super, mid) cell holds more than 1 member at 2x2 over k=4
    val maxLeaf = r22.members.groupBy("super", "mid")
      .count().agg(max("count")).collect().head.getLong(0)
    assert(maxLeaf == 1L)
    // the three-level staged frame carries the exact three-level
    // decision (cluster, dq) — one scan feeds pairs AND the keep rule
    val staged3 = graft.extensions.Kmeans.semStage(qs, "vec_id",
        "embedding", Routed3(r22))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(4)))
      .toSet
    val assign3 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r22))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(staged3 == assign3)
  }

  test("multi-probe three-level assignment (VERDICT r17 #3): probing " +
       "every populated super and mid recovers the EXACT argmin " +
       "(cluster and dq), and over-probing past the populated counts " +
       "null-skips the short slots instead of throwing (the ANSI " +
       "element_at trap, fixed with get())") {
    import spark.implicits._
    val pts = Seq(0L -> Array(0f, 0f), 1L -> Array(1f, 0f),
      2L -> Array(10f, 0f), 3L -> Array(11f, 0f))
      .toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(pts, "vec_id", "embedding",
      k = 4, rounds = 1)
    val qs = Seq(100L -> Array(1.5f, 0f), 101L -> Array(4.5f, 0f),
      102L -> Array(10.5f, 0f))
      .toDF("vec_id", "embedding")
    val exact = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Exact(m))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val r22 = graft.extensions.Kmeans.framedRoutingFor3(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 2, nMids = 2)
    // nProbe=2 covers both supers and both mids per super — the
    // candidate set is ALL clusters, so the decision must equal the
    // exact argmin (nProbe=1 here loses 101L: its true best lives in
    // the second-nearest super)
    val p2 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r22, nProbe = 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(p2 == exact)
    val p1 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r22, nProbe = 1))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    // single-probe loses 101L to cluster 2 (its routed super's best),
    // missing the true best cluster 1 — the quality gap p2 closes
    assert(p1 != exact && p1.contains((101L, 2, 30250000L)))
    // over-probe BOTH levels past their populated counts: short probe
    // arrays must leave null slots (get()), never throw — and the
    // answer is still the exact argmin
    val p5 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed3(r22, nProbe = 5))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(p5 == exact)
    // same regression at the TWO-level path (the pre-r18 element_at
    // spelling threw under Spark 4's default ANSI mode)
    val fr = graft.extensions.Kmeans.framedRoutingFor(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", nSupers = 2)
    val f5 = graft.extensions.Kmeans.assign(qs, "vec_id",
        "embedding", Routed(fr, nProbe = 5))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(f5 == exact)
  }

  test("framed Lloyd training: nSupers=1 routing is the exact argmin, " +
       "so the centroid-frame trajectory equals lloyd's bit-for-bit") {
    import spark.implicits._
    val vecs = Seq(
      0L -> Array(0f, 0f), 1L -> Array(10f, 10f),
      2L -> Array(1f, 0f), 3L -> Array(0f, 1f),
      4L -> Array(9f, 10f), 5L -> Array(10f, 9f)
    ).toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 2)
    val framed = graft.extensions.Kmeans.centroidsOf(
        graft.extensions.Kmeans.lloydFramed(vecs, "vec_id", "embedding",
          k = 2, rounds = 2, nSupers = 1))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(framed == m.last.toMap.map { case (c, v) => c -> v.toSeq })
  }

  test("lloyd early-stop: a stable assignment converges the quantized " +
       "inertia curve and stops before maxRounds; tolQ < 0 never stops") {
    import spark.implicits._
    val vecs = Seq(
      0L -> Array(0f, 0f), 1L -> Array(10f, 10f),
      2L -> Array(1f, 0f), 3L -> Array(0f, 1f),
      4L -> Array(9f, 10f), 5L -> Array(10f, 9f)
    ).toDF("vec_id", "embedding")
    // assignment is stable after round 1, so round 3's inertia equals
    // round 2's exactly (same centroids, same assignment) -> the first
    // measurable Δ=0 is between rounds 2 and 3
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 6, tolQ = 0L)
    assert(m.inertiaQ.length == 3,
      s"expected stop at round 3, got ${m.inertiaQ}")
    assert(m.inertiaQ(1) == m.inertiaQ(2))
    assert(m.centroids.length == 3)
    // the default tolQ < 0 never stops early: all 6 rounds run
    val mFull = graft.extensions.Kmeans.lloyd(vecs, "vec_id",
      "embedding", k = 2, rounds = 6)
    assert(mFull.inertiaQ.length == 6)
    // the early-stopped prefix IS the full run's prefix (stop changes
    // when training ends, never what it computes)
    assert(mFull.inertiaQ.take(3) == m.inertiaQ)
  }

  test("incremental k-means: exact fixed-point merge of a new batch " +
       "into the carried sums; empty batch is bit-for-bit identity") {
    import spark.implicits._
    // hist round 1: {0,2,3} -> c0 = (1/3, 1/3) with sums (1e6, 1e6, n=3);
    // {1} -> c1 = (10, 10) with sums (1e7, 1e7, n=1)
    val hist = Seq(0L -> Array(0f, 0f), 1L -> Array(10f, 10f),
      2L -> Array(1f, 0f), 3L -> Array(0f, 1f))
      .toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(hist, "vec_id", "embedding",
      k = 2, rounds = 1)
    // batch: (2,2) joins c0 (d 5.55 vs 128), (9,9) joins c1 -> merged
    // exact means (3e6/4e6, ...) = 0.75 and (1.9e7/2e6) = 9.5
    val batch = Seq(4L -> Array(2f, 2f), 5L -> Array(9f, 9f))
      .toDF("vec_id", "embedding")
    val m2 = graft.extensions.Kmeans.incrementalUpdate(m, batch,
      "embedding")
    assert(m2.last.toMap.map { case (c, v) => c -> v.toSeq } ==
      Map(0 -> Seq(0.75, 0.75), 1 -> Seq(9.5, 9.5)))
    assert(m2.sums.map { case (c, _, n) => c -> n }.toMap ==
      Map(0 -> 4L, 1 -> 2L))
    // history truly untouched: the pre-update trajectory is preserved
    assert(m2.centroids.init == m.centroids)
    // empty batch: identity on centroids AND sums
    val m3 = graft.extensions.Kmeans.incrementalUpdate(m,
      batch.filter(col("vec_id") < 0L), "embedding")
    assert(m3.last.toMap.map { case (c, v) => c -> v.toSeq } ==
      m.last.toMap.map { case (c, v) => c -> v.toSeq })
    assert(m3.sums.map { case (c, s, n) => (c, s.toSeq, n) }.toSeq ==
      m.sums.map { case (c, s, n) => (c, s.toSeq, n) }.toSeq)
    // FRAME-RESIDENT merge parity: the same update computed with the
    // state as a frame (assignment through framed routing at
    // nSupers=1 = the exact argmin, merge as a keyed join) equals the
    // driver-state result bit-for-bit — sums, counts, and centroids
    val framed = graft.extensions.Kmeans.incrementalUpdateFramed(
        graft.extensions.Kmeans.stateFrame(spark, m)
          .select("cluster", "pos", "sq", "n"),
        batch, "embedding", nSupers = 1)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val expect = graft.extensions.Kmeans.stateFrame(spark, m2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(framed == expect)
  }

  test("SemDeDup: within-cluster cosine pairs over the trained cells, " +
       "and the farthest-from-centroid keep evidence (exact dq, tie " +
       "to the smaller id)") {
    import spark.implicits._
    // exact-in-float coordinates so every distance is hand-computable:
    // cluster 0 = {(1,0), (0.5,0), (0,1)}, cluster 1 = {(-1,0), (-0.5,0)}
    val vecs = Seq(
      0L -> Array(1f, 0f), 1L -> Array(-1f, 0f), 2L -> Array(0.5f, 0f),
      3L -> Array(0f, 1f), 4L -> Array(-0.5f, 0f)
    ).toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 1)
    // colinear pairs have cosine 1; (0,1) is orthogonal to both cluster
    // mates -> exactly the two within-cluster duplicate pairs survive
    val pairs = graft.extensions.Kmeans.nearDupPairs(
        vecs, "vec_id", "embedding", Exact(m), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 2L), (1L, 4L)))
    // keep rule evidence: centroids after round 1 are (0.5, 1/3) and
    // (-0.75, 0); dq(0) = floor((0.25 + 1/9)·1e6) = 361111 beats
    // dq(2) = 111111 (0 is farther -> kept); cluster 1 is an EXACT
    // distance tie (62500 both) -> the smaller id wins
    val dq = graft.extensions.Kmeans.assign(vecs, "vec_id", "embedding",
        Exact(m))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(dq(0L) == 361111L && dq(2L) == 111111L)
    assert(dq(1L) == 62500L && dq(4L) == 62500L)
  }

  test("semStage carries the exact assign decision (cluster, dq) " +
       "alongside the pair-search columns — ONE scan feeds pairs AND " +
       "the keep rule (VERDICT r16 #2)") {
    import spark.implicits._
    val vecs = Seq(
      0L -> Array(1f, 0f), 1L -> Array(-1f, 0f), 2L -> Array(0.5f, 0f),
      3L -> Array(0f, 1f), 4L -> Array(-0.5f, 0f)
    ).toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 1)
    val staged = graft.extensions.Kmeans.semStage(
        vecs, "vec_id", "embedding", Exact(m))
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getLong(4))))
      .toMap
    val exact = graft.extensions.Kmeans.assign(
        vecs, "vec_id", "embedding", Exact(m))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .toMap
    assert(staged == exact)
    // and the routed staging matches its assign twin too
    val framed = graft.extensions.Kmeans.framedRoutingFor(
      graft.extensions.Kmeans.lastCentroidsFrame(spark, m),
      "cluster", "cv", 2)
    val stagedF = graft.extensions.Kmeans.semStage(
        vecs, "vec_id", "embedding", Routed(framed))
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getLong(4))))
      .toMap
    val exactF = graft.extensions.Kmeans.assign(
        vecs, "vec_id", "embedding", Routed(framed))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .toMap
    assert(stagedF == exactF)
  }

  test("SemDeDup dense-cell cap (VERDICT r16 #5): a planted mass-" +
       "duplicate cell emits linear STAR pairs against its smallest " +
       "id; connectivity and the keep rule survive, healthy cells " +
       "keep exact all-pairs semantics, and survivors match the " +
       "uncapped run exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ids 0,1 seed the two Lloyd centroids; 2..200 are identical
    // copies of id 0 (one degenerate 200-member cell — the crawl
    // boilerplate pathology), 201 pairs up with id 1 in a healthy cell
    val vecs = (
      Seq(0L -> Array(1f, 0f), 1L -> Array(-1f, 0f)) ++
      (2L to 200L).map(_ -> Array(1f, 0f)) ++
      Seq(201L -> Array(-0.5f, 0f))
    ).toDF("vec_id", "embedding")
    val m = graft.extensions.Kmeans.lloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 1)
    val staged = graft.extensions.Kmeans.semStage(
      vecs, "vec_id", "embedding", Exact(m))
    def keepsOf(maxCell: Int): (Long, Set[Long]) = {
      val pairs = graft.extensions.Kmeans.pairsOf(staged, 0.9, maxCell)
      val comps = graft.extensions.Components
        .connectedComponents(pairs, "id_a", "id_b")
      val keeps = comps
        .join(staged.select(col("id"), col("dq")), "id")
        .withColumn("rn", row_number().over(
          Window.partitionBy("comp").orderBy(col("dq").desc, col("id"))))
        .filter(col("rn") === 1)
        .collect().map(_.getLong(0)).toSet
      (pairs.count(), keeps)
    }
    val (exactPairs, exactKeeps) = keepsOf(10000)
    val (cappedPairs, cappedKeeps) = keepsOf(50)
    // exact: C(200,2) within the mega cell + the one healthy pair;
    // capped: 199 star pairs + the same healthy pair — linear, not
    // quadratic, in the degenerate cell's size
    assert(exactPairs == 200L * 199L / 2 + 1)
    assert(cappedPairs == 199L + 1)
    // the duplicate groups stay connected through the representative,
    // so the surviving set is IDENTICAL (mega group keeps its
    // dq-tie-smallest-id winner 0; healthy cell keeps one of its pair)
    assert(cappedKeeps == exactKeeps)
    assert(cappedKeeps.contains(0L) && cappedKeeps.size == 2)
  }

  test("pairsOf plan-choice memo is pinned to the live CACHE ENTRY, " +
       "not cache presence: after clearCache + corpus rewrite at the " +
       "SAME path + fresh staging under the SAME model, the mega-cell " +
       "guard re-probes and engages (r17 ADVICE: presence-gating " +
       "would trust the healthy-corpus verdict and run the rewritten " +
       "mega cell through the unguarded quadratic plan)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-memo").toFile.getAbsolutePath
    def write(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(dir)
    // corpus 1: healthy — two 2-member cells, no cap trip at 50
    write(Seq(0L -> Array(1f, 0f), 1L -> Array(-1f, 0f),
              2L -> Array(0.9f, 0f), 3L -> Array(-0.9f, 0f)))
    val v1 = spark.read.parquet(dir)
    val m = graft.extensions.Kmeans.lloyd(v1, "vec_id", "embedding",
      k = 2, rounds = 1)
    val s1 = graft.extensions.Kmeans.semStage(v1, "vec_id", "embedding",
      Exact(m))
    // memoizes (plan, maxCell=50) -> no mega cell, over corpus 1's entry
    assert(graft.extensions.Kmeans.pairsOf(s1, 0.9, 50).count() == 2)
    // the documented between-corpora reset, then a rewrite at the path
    spark.sqlContext.clearCache()
    write(Seq(0L -> Array(1f, 0f), 1L -> Array(-1f, 0f),
              201L -> Array(-0.5f, 0f)) ++
          (2L to 200L).map(_ -> Array(1f, 0f)))
    // fresh staging under the SAME trained model (the stale-verdict
    // collision scenario: identical plan shape, new data)
    val s2 = graft.extensions.Kmeans.semStage(
      spark.read.parquet(dir), "vec_id", "embedding", Exact(m))
    // 200-member cell must come back STAR-capped (199 + 1 healthy
    // pair), not the quadratic 19900+1 the stale verdict would allow
    assert(graft.extensions.Kmeans.pairsOf(s2, 0.9, 50).count() == 200)
    spark.sqlContext.clearCache()
  }

  test("exact dedup groups identical texts, keeps smallest id") {
    val out = TextDedup.exact(
        docsDf(1L -> "same text here", 2L -> "same text here",
               3L -> "different text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash: identical docs share full signature; LSH finds the pair") {
    val docs = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "totally unrelated words compose this one sentence")
    val sigs = docs.select(col("doc_id"),
        TextDedup.minhashSignature(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = TextDedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("mega-bucket cap: 1k-duplicate bucket yields linear star pairs " +
       "and unchanged dedup survivors (SCALE.md LSH bucket risk)") {
    import spark.implicits._
    // 1000 identical boilerplate docs (one mega band bucket) + one
    // unrelated doc; uncapped banding would emit 999*1000/2 ≈ 500k pairs
    val boiler = (1L to 1000L).map(i => (i, "standard boilerplate footer " +
      "text repeated across every page of the crawl"))
    val docs = (boiler :+ (2000L, "completely different standalone text " +
      "with no duplicate anywhere")).toDF("doc_id", "text")
    val capped = TextDedup.minhashCandidates(docs, "doc_id", "text",
        maxBucket = 100)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // linear star: every member pairs exactly once, with the smallest id
    assert(pairs.length == 999)
    assert(pairs.forall(_._1 == 1L))
    assert(pairs.map(_._2).toSet == (2L to 1000L).toSet)
    // survivors identical to the uncapped path: verification + keep-min
    // leaves exactly the representative and the unrelated doc
    val losers = TextDedup.jaccardVerifiedFromShingles(
        TextDedup.withShingles(docs, "doc_id", "text"), 0.5,
        maxBucket = 100)
      .select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val survivors = (1L to 1000L).toSet + 2000L -- losers
    assert(survivors == Set(1L, 2000L))
    // below the cap the same corpus prefix produces full all-pairs
    val smallDocs = docs.filter(col("doc_id") <= 3 || col("doc_id") === 2000L)
    val allPairs = TextDedup.minhashCandidates(smallDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allPairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("simhash: near-identical docs differ in few bits") {
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val out = docsDf(
        1L -> "the quick brown fox jumps over the lazy dog again today",
        2L -> "the quick brown fox jumps over the lazy dog again tonight",
        3L -> "completely different vocabulary occupies this entire string")
      .select(col("doc_id"), TextDedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L).length == 16)
    assert(hamming(out(1L), out(2L)) < hamming(out(1L), out(3L)))
  }

  test("simhash banded pairs find near-identical docs, guard invariants") {
    val docs = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog again today",
      2L -> "the quick brown fox jumps over the lazy dog again today",
      3L -> "completely different vocabulary occupies this entire string")
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // pigeonhole guard: maxHamming beyond bands-1 must fail fast
    intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 5)
    }
  }

  test("jaccard pairs: near-dup above threshold, unrelated below") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "one two three four five six seven eight"),
      (2L, "a", "one two three four five six seven nine"),
      (3L, "a", "ten eleven twelve thirteen fourteen fifteen sixteen seven"))
      .toDF("doc_id", "lang", "text")
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        col("lang"), 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("token packing: budget boundaries, straddle, per-stream isolation") {
    import spark.implicits._
    // texts of 3 tokens each, budget 5: pack boundaries at offsets 0,3,6
    // → packs 0,0,1 within a stream (offset 3 straddles into pack 0;
    // concat-then-chunk assigns by first token)
    val docs = Seq(
      (1L, "a b c", "x"), (2L, "d e f", "x"), (3L, "g h i", "x"),
      (10L, "j k l", "y"))
      .toDF("doc_id", "text", "grp")
    val out = TextAnalysis.packByTokenBudget(docs, "doc_id", "text",
        col("grp"), 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).sortBy(_._1)
    // md5 order within stream x: doc 1 (md5("1")=c4ca..), doc 2
    // (c81e..), doc 3 (eccb..) → offsets 0, 3, 6
    assert(out.toSeq == Seq((1L, "x", 0L), (2L, "x", 0L), (3L, "x", 1L),
                            (10L, "y", 0L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.packByTokenBudget(docs, "doc_id", "text", col("grp"), 0)
    }
  }

  test("exact quantiles: discrete ranks, singleton group, q=1 = max") {
    import spark.implicits._
    import graft.ops.AggOps
    // group a: values 1..10 → p50 = value at ceil(0.5*10)=rank 5,
    // p90 = rank 9, p99 = rank 10; group b: singleton
    val df = ((1L to 10L).map(v => ("a", v, v)) :+ (("b", 42L, 99L)))
      .toDF("g", "v", "tie")
    val out = AggOps.exactQuantiles(df, "g", "v", "tie")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                           r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(out.toSeq == Seq(("a", 10L, 5L, 9L, 10L),
                            ("b", 1L, 42L, 42L, 42L)))
    val maxOut = AggOps.exactQuantiles(df, "g", "v", "tie", Seq(1.0))
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._1)
    assert(maxOut.toSeq == Seq(("a", 10L), ("b", 42L)),
      "p100 must equal the group max")
    intercept[IllegalArgumentException] {
      AggOps.exactQuantiles(df, "g", "v", "tie", Seq(0.0))
    }
  }

  test("connected components: transitive chain collapses, disjoint " +
       "clusters stay apart, survivor = min id") {
    import spark.implicits._
    import graft.extensions.Components
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Components.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    // string ids work too (component label = lexicographic min)
    val sPairs = Seq(("b", "a"), ("b", "c")).toDF("id_a", "id_b")
    val sOut = Components.connectedComponents(sPairs, "id_a", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(sOut.toSeq == Seq(("a", "a"), ("b", "a"), ("c", "a")))
  }

  test("incremental components: merging a batch into a saved labeling " +
       "is bit-identical to a from-scratch run over the union — " +
       "bridged comps, new-only comps, new global min, no-op edges") {
    import spark.implicits._
    import graft.extensions.Components
    // history: comps {5,6,7} (min 5), {10,11} (min 10), {20,21} (min 20)
    val hist = Seq((6L, 5L), (6L, 7L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val saved = Components.connectedComponents(hist, "id_a", "id_b")
    // batch: 100-11 and 100-21 chains {10,11} and {20,21} through a
    // NEW vertex; 3-5 gives the {5,6,7} comp a NEW GLOBAL MIN (3);
    // 6-7 is a no-op edge inside a saved comp; 200-201 is a brand-new
    // component; 300-300 a new self-loop singleton
    val batch = Seq((100L, 11L), (100L, 21L), (3L, 5L), (6L, 7L),
      (200L, 201L), (300L, 300L)).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = rows(Components.incrementalComponents(saved, batch,
      "id_a", "id_b"))
    val scratch = rows(Components.connectedComponents(
      hist.unionByName(batch), "id_a", "id_b"))
    assert(inc == scratch)
    // and the semantics are what the construction says
    assert(inc.contains((100L, 10L)) && inc.contains((21L, 10L)),
      "bridged comps take the merged min")
    assert(inc.contains((7L, 3L)), "new global min relabels the comp")
    assert(inc.contains((300L, 300L)), "self-loop singleton appears")
    // second merge on top of the first (chained incrementality)
    val batch2 = Seq((10L, 5L)).toDF("id_a", "id_b")
    val inc2 = rows(Components.incrementalComponents(
      Components.incrementalComponents(saved, batch, "id_a", "id_b"),
      batch2, "id_a", "id_b"))
    val scratch2 = rows(Components.connectedComponents(
      hist.unionByName(batch).unionByName(batch2), "id_a", "id_b"))
    assert(inc2 == scratch2)
    // the small-batch driver union-find fast path (default cutoff,
    // taken above) must be bit-identical to the distributed loop
    // (forced by localCutoff = 0) on the same input
    val distributed = rows(Components.incrementalComponents(saved, batch,
      "id_a", "id_b", localCutoff = 0))
    assert(distributed == inc,
      "fast-path and distributed incremental merges must agree")
  }

  test("tierBoundariesSampled: groups under the sample bound are " +
       "bit-equal to the exact path; sampled groups mis-tier at most " +
       "an epsilon fraction; sampleN >= max group reduces to exact") {
    import spark.implicits._
    import graft.ops.AggOps
    // group "a": 40 rows (< sampleN -> every row kept, exact);
    // group "b": 8000 rows (sampled at ~512). v = deterministic
    // pseudo-random order value, id unique across groups.
    val rows =
      (0 until 40).map(i => ("a", ((i * 2654435761L) % 997L), i.toLong)) ++
      (0 until 8000).map(i => ("b", ((i * 2654435761L) % 99991L),
        1000L + i))
    val df = rows.toDF("g", "v", "id")
    val ord = Seq(col("v"), col("id"))
    val exact = AggOps.tierBoundaries(df, "g", ord, 4)
    val samp = AggOps.tierBoundariesSampled(df, "g", ord, 4, col("id"),
      sampleN = 512)
    // sub-bound group: boundaries bit-equal (scnt == cnt == 40)
    val ea = exact.filter(col("g") === "a").drop("g").collect().head
    val sa = samp.filter(col("g") === "a").drop("g", "scnt")
      .collect().head
    assert(ea == sa, s"sub-bound group must be exact: $ea vs $sa")
    assert(samp.filter(col("g") === "a").select("scnt")
      .collect().head.getLong(0) == 40L)
    // sampled group: window input bounded near sampleN, and the tier
    // assignment deviates from exact on at most an epsilon fraction
    // (DKW at scnt~512: eps/boundary ~ sqrt(ln(2/δ)/1024) ~ 0.07)
    val scntB = samp.filter(col("g") === "b").select("scnt")
      .collect().head.getLong(0)
    assert(scntB > 512 - 200 && scntB < 512 + 200,
      s"sample size should concentrate near 512, got $scntB")
    def tiersOf(bounds: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(bounds), "g")
        .select(col("id"), AggOps.tierOf(ord, 4).as("tier"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val te = tiersOf(exact)
    val ts = tiersOf(samp.drop("scnt"))
    assert(te.keySet == ts.keySet)
    val devB = te.keys.filter(_ >= 1000L).count(k => te(k) != ts(k))
    assert(devB.toDouble / 8000 < 0.15,
      s"sampled tiers deviate on $devB/8000 rows — beyond the DKW bound")
    assert(te.keys.filter(_ < 1000L).forall(k => te(k) == ts(k)),
      "sub-bound group tiers must match exactly")
    // sampleN >= every group: the whole operator reduces to exact
    val full = AggOps.tierBoundariesSampled(df, "g", ord, 4, col("id"),
      sampleN = 16384).drop("scnt")
    assert(full.collect().toSet == exact.collect().toSet)
  }

  test("tierBoundariesSampled: a group whose sample comes up empty " +
       "still emits a bounds row (null boundaries -> tier 0), never " +
       "silently vanishing through a downstream inner join") {
    import spark.implicits._
    import graft.ops.AggOps
    // The empty-sample regime needs cnt > sampleN*2^32 rows to arise
    // through the public predicate (the clamp keeps it satisfiable
    // but only hash32 = 0 rows qualify), so pin the CONTRACT at the
    // seam the public path routes through: boundsOverSample must
    // left-join the exact counts back, so a group absent from the
    // sampled frame still appears with null bounds and scnt = 0.
    val cnts = Seq(("a", 40L), ("z", 5000000000L)).toDF("g", "cnt")
    val sampled = Seq(("a", 3L), ("a", 9L), ("a", 20L), ("a", 31L))
      .toDF("g", "v")
      .select(col("g"), AggOps.ordKey(Seq(col("v"))).as("ord"))
    val out = AggOps.boundsOverSample(cnts, sampled, "g", 4)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "z"),
      "every counted group must emit a bounds row")
    val z = out("z")
    assert(z.getLong(1) == 5000000000L && z.getLong(2) == 0L)
    assert(z.isNullAt(3) && z.isNullAt(4) && z.isNullAt(5),
      "empty sample -> all-null boundaries")
    // null boundaries read as tier 0 downstream (tierOf's coalesce)
    val tiers = Seq(("z", 7L)).toDF("g", "v")
      .join(AggOps.boundsOverSample(cnts, sampled, "g", 4), "g")
      .select(AggOps.tierOf(Seq(col("v")), 4).as("t"))
      .collect().map(_.getInt(0))
    assert(tiers.sameElements(Array(0)))
    // sanity on the populated group: 4 sampled rows -> scnt 4, real
    // boundaries at ranks 2/3/4 of the sample
    val a = out("a")
    assert(a.getLong(2) == 4L && !a.isNullAt(3))
  }

  test("incremental components fast path: string ids order in Spark's " +
       "UTF-8 binary collation, not Java's UTF-16 code-unit order") {
    import spark.implicits._
    import graft.extensions.Components
    // U+1F600 (😀, UTF-8 bytes F0 9F 98 80) vs U+E000 (private-use,
    // UTF-8 bytes EE 80 80): UTF-16 puts the surrogate 0xD83D BELOW
    // 0xE000 (😀 < U+E000), UTF-8 bytes put F0 ABOVE EE (😀 > U+E000).
    // Spark's min() uses the latter, so both paths must label the
    // merged component U+E000 — a Comparable-ordered fast path would
    // pick 😀 and break its bit-parity contract (ADVICE r12).
    val smiley = "\uD83D\uDE00"
    val priv = "\uE000"
    val saved = Components.connectedComponents(
      Seq((smiley, smiley)).toDF("id_a", "id_b"), "id_a", "id_b")
    val batch = Seq((smiley, priv)).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val fast = rows(Components.incrementalComponents(saved, batch,
      "id_a", "id_b"))
    val dist = rows(Components.incrementalComponents(saved, batch,
      "id_a", "id_b", localCutoff = 0))
    assert(fast == dist, "fast path must match the distributed loop")
    assert(fast == Set((smiley, priv), (priv, priv)),
      s"min label must be UTF-8 order's U+E000; got $fast")
  }

  test("repetition ratio, PII scrub, hash sample semantics") {
    import spark.implicits._
    // repetition: "a b a b a" → 2-grams [a b, b a, a b, b a] → 2 dups / 4
    val rep = Seq(("a b a b a", 1)).toDF("t", "k")
      .select(TextAnalysis.repetitionRatio(col("t"), 2).as("r"))
      .collect().head.getDouble(0)
    assert(rep == 0.5)
    // no repeats → 0; too-short doc → 0
    val zeros = Seq("unique words only here", "x").toDF("t")
      .select(TextAnalysis.repetitionRatio(col("t"), 2).as("r"))
      .collect().map(_.getDouble(0))
    assert(zeros.forall(_ == 0.0))
    val scrubbed = Seq(
        "mail bob.smith+x@foo.co.uk ip 192.168.001.1 tel 5551234567 ok 42")
      .toDF("t")
      .select(TextAnalysis.piiScrub(col("t")).as("s"))
      .collect().head.getString(0)
    assert(scrubbed == "mail [EMAIL] ip [IP] tel [NUM] ok 42")
    // hash sample: deterministic, and the kept fraction tracks the
    // threshold (md5 prefix < "8000" ≈ half)
    val keys = (1L to 1000L).toDF("k")
    val kept = keys.filter(TextAnalysis.hashSample(col("k"), "8000")).count()
    assert(kept > 400 && kept < 600)
    val again = keys.filter(TextAnalysis.hashSample(col("k"), "8000")).count()
    assert(kept == again)
    intercept[IllegalArgumentException] {
      TextAnalysis.hashSample(col("k"), "XYZ")
    }
  }

  test("lang id + quality + fingerprint basics") {
    val out = docsDf(
        1L -> "the cat sat on a mat and the dog is here",
        2L -> "der Hund ist nicht da und die Katze",
        3L -> "zzz qqq www")
      .select(col("doc_id"),
              TextAnalysis.langId(col("text")).as("lang"),
              TextAnalysis.qualityScore(col("text")).as("q"),
              TextAnalysis.fingerprint(col("text")).as("fp"),
              TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getString(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "en")
    assert(out(2L)._1 == "de")
    assert(out(3L)._1 == "und")
    assert(out(1L)._2 > out(3L)._2) // stopword-rich beats gibberish
    assert(out(1L)._3.length == 32) // md5 hex
    assert(out(1L)._4 == 11L)
  }

  test("LSH near-neighbor recall vs brute force on planted near-dups") {
    import spark.implicits._
    // 40 random-ish base vectors + 5 planted near-duplicates
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val planted = (0 until 5).map { i =>
      val src = base(i)._2
      (100L + i, src.zipWithIndex.map { case (v, j) =>
        if (j == 0) v + 0.01f else v })
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val exact = Similarity.pairwiseCosine(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 5) // the planted pairs
    val viaLsh = Similarity.lshNearNeighbors(vecs, "vec_id", "embedding",
        0.99, tables = 4, planesPerTable = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded LSH must recover a large fraction of true near-dups and
    // introduce nothing false (cosine verification runs on candidates)
    assert(viaLsh.subsetOf(exact))
    assert(viaLsh.size >= exact.size * 3 / 5)
  }

  test("IVF search: full-probe recall equals brute force; assignment total") {
    import spark.implicits._
    import graft.extensions.Ivf
    val rng = new scala.util.Random(23)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dup = (99L, base.head._2.map(v => v * 1.001f))
    val vecs = (base :+ dup).toDF("vec_id", "embedding")
    val index = Ivf.train(vecs, "embedding", k = 4)
    assert(index.k == 4)
    // every vector lands in exactly one cell
    assert(Ivf.assign(vecs, "vec_id", "embedding", index).count() == 61)
    // probing ALL cells must reproduce brute force exactly
    val queries = vecs.filter(col("vec_id") === 0L)
    val ivfAll = Ivf.search(vecs, queries, "vec_id", "embedding", index,
        nProbe = 4, topK = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id",
        "embedding", 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(ivfAll.toSeq == brute.toSeq)
    // the planted near-dup is found even with a single probed cell
    val ivf1 = Ivf.search(vecs, queries, "vec_id", "embedding", index,
        nProbe = 1, topK = 1).collect()
    assert(ivf1.head.getLong(1) == 99L)
  }

  test("IVF sampled fit: the bounded hash-sample KMeans fit matches a " +
       "full-corpus fit's recall on a CLUSTER-SORTED corpus — the layout " +
       "where a prefix limit() would only ever see the first stratum") {
    import spark.implicits._
    import graft.extensions.Ivf
    val rng = new scala.util.Random(11)
    // 4 well-separated clusters, rows ORDERED by cluster (adversarial
    // content-correlated layout: a prefix sample sees only cluster 0)
    val rows = (0 until 4).flatMap { c =>
      (0 until 100).map { i =>
        val v = Array.fill(16)(0.05f * rng.nextGaussian().toFloat)
        v(c * 4) += 1f
        (c * 100L + i, v)
      }
    }
    val vecs = rows.toDF("vec_id", "embedding").orderBy("vec_id").coalesce(2)
    val queries = vecs.filter(col("vec_id") % 100 < 3) // 3 per cluster
    def recall(index: Ivf.IvfIndex): Double = {
      val got = Ivf.search(vecs, queries, "vec_id", "embedding", index,
          nProbe = 1, topK = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = Similarity.bruteForceTopK(vecs, queries, "vec_id",
          "embedding", 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    // 60-row sample of 400 (≈15 per cluster) must see every stratum
    val sampled = recall(Ivf.train(vecs, "embedding", k = 4,
                                   maxSampleRows = 60))
    val full = recall(Ivf.train(vecs, "embedding", k = 4))
    assert(sampled >= 0.9, s"sampled-fit recall only $sampled")
    assert(sampled >= full - 0.05,
      s"sampled-fit recall $sampled lags full-fit recall $full")
  }

  test("distribution drift: a same-distribution batch scores ~zero; a " +
       "shifted batch lights up; the bucket spine is always complete") {
    import spark.implicits._
    import graft.extensions.TextAnalysis
    val ref = (0 until 500).map(i => (i.toLong, (i % 100) / 100.0))
      .toDF("id", "score")
    val same = (0 until 500).map(i => (i.toLong, ((i + 7) % 100) / 100.0))
      .toDF("id", "score")
    val shifted = (0 until 500).map(i => (i.toLong, 0.9 + (i % 10) / 100.0))
      .toDF("id", "score")
    def chi2(cur: org.apache.spark.sql.DataFrame): Double =
      TextAnalysis.distributionDrift(ref, cur, "score")
        .agg(sum("chi2_term")).head().getDouble(0)
    // identical per-bucket counts → exactly zero drift
    assert(chi2(same) == 0.0)
    assert(chi2(shifted) > 1.0)
    val frame = TextAnalysis.distributionDrift(ref, shifted, "score")
    assert(frame.count() == 10)
    // smoothed masses each sum to 1 (the spine keeps empty buckets)
    val (sp, sq) = frame.agg(sum("ref_p"), sum("cur_p")).head() match {
      case r => (r.getDouble(0), r.getDouble(1))
    }
    assert(math.abs(sp - 1.0) < 1e-9 && math.abs(sq - 1.0) < 1e-9)
  }

  test("IVF incremental append: map-side appendAssign equals a " +
       "from-scratch assignment, and searchLists over the merged lists " +
       "equals search over the full corpus") {
    import spark.implicits._
    import graft.extensions.Ivf
    val rng = new scala.util.Random(31)
    val rows = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val all = rows.toDF("vec_id", "embedding")
    val hist = all.filter(col("vec_id") < 60)
    val batch = all.filter(col("vec_id") >= 60)
    // index frozen on history only — the batch arrives later
    val index = Ivf.trainDeterministic(hist, "vec_id", "embedding", k = 4)
    val merged = Ivf.appendAssign(
      Ivf.assign(hist, "vec_id", "embedding", index),
      batch, "vec_id", "embedding", index)
    val scratch = Ivf.assign(all, "vec_id", "embedding", index)
    assert(merged.select("id", "cell").collect()
             .map(r => (r.getLong(0), r.getInt(1))).toSet ==
           scratch.select("id", "cell").collect()
             .map(r => (r.getLong(0), r.getInt(1))).toSet)
    val queries = all.filter(col("vec_id") < 3)
    val viaLists = Ivf.searchLists(merged, queries, "vec_id", "embedding",
        index, nProbe = 2, topK = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaCorpus = Ivf.search(all, queries, "vec_id", "embedding",
        index, nProbe = 2, topK = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaLists == viaCorpus)
  }

  test("IVF-PQ incremental append: map-side appendCoded equals a " +
       "from-scratch coded build, and searchIvfPqLists over the merged " +
       "lists equals searchIvfPq over the full corpus") {
    import spark.implicits._
    import graft.extensions.{Ivf, Pq}
    val rng = new scala.util.Random(53)
    val rows = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val all = rows.toDF("vec_id", "embedding")
    val hist = all.filter(col("vec_id") < 60)
    val batch = all.filter(col("vec_id") >= 60)
    // BOTH quantizers frozen on history only — the batch arrives later
    val ivf = Ivf.trainDeterministic(hist, "vec_id", "embedding", k = 4)
    val pq = Pq.trainDeterministic(hist, "vec_id", "embedding",
      m = 4, nCodes = 8)
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList))
        .toSet
    val merged = Pq.appendCoded(
      Pq.codedLists(hist, "vec_id", "embedding", ivf, pq),
      batch, "vec_id", "embedding", ivf, pq)
    assert(rowSet(merged) ==
      rowSet(Pq.codedLists(all, "vec_id", "embedding", ivf, pq)))
    val queries = all.filter(col("vec_id") < 3)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaLists = hits(Pq.searchIvfPqLists(merged, queries,
      "vec_id", "embedding", ivf, pq, nProbe = 2, topK = 3))
    val viaCorpus = hits(Pq.searchIvfPq(all, queries,
      "vec_id", "embedding", ivf, pq, nProbe = 2, topK = 3))
    assert(viaLists == viaCorpus)
  }

  test("IVF refit advisory: an in-distribution batch raises no flag; a " +
       "shifted batch (a region the centroids never saw) is flagged") {
    import spark.implicits._
    import graft.extensions.Ivf
    val rng = new scala.util.Random(47)
    def cluster(axis: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * rng.nextGaussian().toFloat)
        v(axis) += 1f
        (i.toLong, v)
      }
    val hist = (cluster(0, 0 until 50) ++ cluster(4, 50 until 100))
      .toDF("vec_id", "embedding")
    val index = Ivf.train(hist, "embedding", k = 2)
    val histStats = Ivf.cellStats(
      Ivf.assign(hist, "vec_id", "embedding", index), index)
    // same-distribution batch: per-cell error comparable to history
    val matched = (cluster(0, 200 until 230) ++ cluster(4, 230 until 260))
      .toDF("vec_id", "embedding")
    val okAdvisory = Ivf.refitAdvisory(histStats,
      Ivf.cellStats(Ivf.assign(matched, "vec_id", "embedding", index), index),
      ratio = 1.5)
    assert(okAdvisory.filter(col("drifted")).count() == 0L)
    // shifted batch: a cluster on an axis orthogonal to every centroid —
    // its quantization error is ~1 vs the history's ~0, so whichever
    // cell absorbs it must flag
    val shifted = cluster(8, 300 until 330).toDF("vec_id", "embedding")
    val badAdvisory = Ivf.refitAdvisory(histStats,
      Ivf.cellStats(Ivf.assign(shifted, "vec_id", "embedding", index), index),
      ratio = 1.5)
    assert(badAdvisory.filter(col("drifted")).count() >= 1L)
  }

  test("IVF embedding near-dup: exact cosine over co-bucketed " +
       "candidates; multi-probe recovers boundary-straddling pairs; " +
       "full-probe equals brute force") {
    import spark.implicits._
    import graft.extensions.{Ivf, Similarity}
    val index = Ivf.IvfIndex(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // two tight clusters on the centroid axes plus one near-dup pair
    // STRADDLING the Voronoi boundary: 40° assigns to cell 0, 50° to
    // cell 1, so single-probe bucketing splits them
    val vecs = Seq(
      1L -> v(5), 2L -> v(7),
      3L -> v(85), 4L -> v(83),
      5L -> v(40), 6L -> v(50)).toDF("vec_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // cos(2°) ≈ 0.9994 and cos(10°) ≈ 0.985 pass 0.95; every
    // cross-cluster angle is ≥ 33° (cos ≤ 0.84) and fails it
    val got2 = ids(Ivf.nearDupPairs(vecs, "vec_id", "embedding", index,
      threshold = 0.95, nProbe = 2))
    assert(got2 == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    val got1 = ids(Ivf.nearDupPairs(vecs, "vec_id", "embedding", index,
      threshold = 0.95, nProbe = 1))
    assert(got1 == Set((1L, 2L), (3L, 4L)), "single-probe must split " +
      "the boundary pair (this is the recall cost multi-probe buys back)")
    // probing every cell makes the candidate set all-pairs: the result
    // must equal brute force exactly, cos values included
    val full = Ivf.nearDupPairs(vecs, "vec_id", "embedding", index,
        threshold = 0.5, nProbe = index.k)
      .as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.pairwiseCosine(vecs, "vec_id", "embedding",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == brute)
  }

  test("IVF/PQ index persistence: parquet save/load roundtrips exactly " +
       "(assignment and encoding identical), damaged artifacts fail fast") {
    import spark.implicits._
    import graft.extensions.{Ivf, Pq}
    val rng = new scala.util.Random(53)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-index")
    val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", k = 4)
    Ivf.saveIndex(spark, ivf, s"$tmp/ivf")
    val ivf2 = Ivf.loadIndex(spark, s"$tmp/ivf")
    assert(ivf2.centroids.map(_.toSeq).toSeq ==
           ivf.centroids.map(_.toSeq).toSeq)
    assert(Ivf.assign(vecs, "vec_id", "embedding", ivf2)
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1)))
      .toSet ==
      Ivf.assign(vecs, "vec_id", "embedding", ivf)
        .select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet)
    val pq = Pq.trainDeterministic(vecs, "vec_id", "embedding",
      m = 4, nCodes = 8)
    Pq.saveIndex(spark, pq, s"$tmp/pq")
    val pq2 = Pq.loadIndex(spark, s"$tmp/pq")
    assert(pq2.dim == pq.dim)
    assert(pq2.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
           pq.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    // a damaged artifact (dropped cell row) must refuse to load
    val cents = spark.read.parquet(s"$tmp/ivf")
    cents.filter(col("cell") =!= 2).write.mode("overwrite")
      .parquet(s"$tmp/ivf_damaged")
    intercept[IllegalArgumentException] {
      Ivf.loadIndex(spark, s"$tmp/ivf_damaged")
    }
  }

  test("PQ: codes in range, seeds encode to their own codebook entry, " +
       "ADC distance to a seed equals the exact squared L2") {
    import spark.implicits._
    import graft.extensions.Pq
    val rng = new scala.util.Random(7)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val vecs = rows.toDF("vec_id", "embedding")
    val index = Pq.trainDeterministic(vecs, "vec_id", "embedding",
      m = 4, nCodes = 8)
    assert(index.m == 4 && index.nCodes == 8 && index.dsub == 8)
    val codes = Pq.encode(vecs, "vec_id", "embedding", index)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 40)
    assert(codes.values.forall(_.forall(c => c >= 0 && c < 8)))
    // seed ids = the 8 md5-smallest; seed r's subvectors ARE codebook
    // entry r in every subspace, so it must encode to (r, r, r, r)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val seedIds = rows.map(_._1).sortBy(id => (md5hex(id.toString), id))
      .take(8)
    seedIds.zipWithIndex.foreach { case (id, r) =>
      assert(codes(id) == Seq(r, r, r, r),
        s"seed $id (code $r) encoded to ${codes(id)}")
    }
    // ADC against a seeds-only corpus is EXACT: every corpus vector
    // reconstructs to itself, so approx_dist == true squared L2
    val seedVecs = vecs.filter(col("vec_id").isInCollection(seedIds))
    val q = rows.find(r => !seedIds.contains(r._1)).get
    val got = Pq.search(seedVecs, vecs.filter(col("vec_id") === q._1),
        "vec_id", "embedding", index, topK = 8)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val byId = rows.toMap
    got.foreach { case (nid, approx) =>
      val (a, b) = (q._2, byId(nid))
      // same arithmetic shape as Pq.l2sq: per-subspace sequential fold,
      // then subspace partials summed left-to-right
      val exact = (0 until 4).map { j =>
        (0 until 8).foldLeft(0.0) { (acc, i) =>
          val d = a(j * 8 + i).toDouble - b(j * 8 + i).toDouble
          acc + d * d
        }
      }.foldLeft(0.0)(_ + _)
      assert(math.abs(approx - exact) < 1e-12,
        s"neighbor $nid: adc=$approx exact=$exact")
    }
  }

  test("PQ KMeans quality path: twin encodes to the original's codes, " +
       "ADC search ranks it first") {
    import spark.implicits._
    import graft.extensions.Pq
    val rng = new scala.util.Random(29)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val twin = (99L, base.head._2.map(v => v * 1.0005f))
    val vecs = (base :+ twin).toDF("vec_id", "embedding")
    val index = Pq.train(vecs, "embedding", m = 4, nCodes = 8, seed = 5L)
    assert(index.m == 4 && index.nCodes == 8 && index.dsub == 8)
    val codes = Pq.encode(vecs, "vec_id", "embedding", index)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == codes(99L),
      s"near-identical vectors must share codes: ${codes(0L)} vs ${codes(99L)}")
    val top = Pq.search(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", index, topK = 1).collect()
    assert(top.head.getLong(1) == 99L, s"expected twin first, got ${top.head}")
  }

  test("PQ sampled fit: the bounded hash-sample fit matches a full fit's " +
       "quantization error on a CLUSTER-SORTED corpus, where a prefix " +
       "limit() fit (the pre-fix behavior) balloons it") {
    import spark.implicits._
    import graft.extensions.Pq
    val rng = new scala.util.Random(37)
    // 4 well-separated clusters, rows ORDERED by cluster; cluster c is
    // displaced in subspace c, so codebooks fit on the cluster-0 prefix
    // never see subspaces 1..3's displaced modes
    val rows = (0 until 4).flatMap { c =>
      (0 until 100).map { i =>
        val v = Array.fill(32)(0.05f * rng.nextGaussian().toFloat)
        v(c * 8) += 1f
        (c * 100L + i, v)
      }
    }
    val vecs = rows.toDF("vec_id", "embedding").orderBy("vec_id").coalesce(2)
    def meanQerr(index: Pq.PqIndex): Double = {
      val codes = Pq.encode(vecs, "vec_id", "embedding", index)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val errs = rows.map { case (id, v) =>
        (0 until index.m).map { j =>
          val cent = index.centroids(j)(codes(id)(j))
          (0 until index.dsub).foldLeft(0.0) { (acc, i) =>
            val d = v(j * index.dsub + i).toDouble - cent(i); acc + d * d
          }
        }.sum
      }
      errs.sum / errs.size
    }
    // 60-row sample of 400 (≈15 per cluster) must see every stratum
    val sampled = meanQerr(Pq.train(vecs, "embedding", m = 4, nCodes = 8,
      maxSampleRows = 60))
    val full = meanQerr(Pq.train(vecs, "embedding", m = 4, nCodes = 8))
    // the pre-fix behavior: codebooks fit on whatever rows come first
    val biased = meanQerr(Pq.train(vecs.limit(60), "embedding",
      m = 4, nCodes = 8))
    assert(sampled <= full * 1.3,
      s"sampled-fit qerr $sampled lags full-fit qerr $full")
    assert(biased > sampled * 3,
      s"prefix-biased qerr $biased should balloon vs sampled $sampled")
  }

  test("IVF-PQ: probing ALL cells reproduces plain PQ ADC ranking") {
    import spark.implicits._
    import graft.extensions.{Ivf, Pq}
    val rng = new scala.util.Random(13)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", k = 4)
    val pq = Pq.trainDeterministic(vecs, "vec_id", "embedding",
      m = 4, nCodes = 8)
    val queries = vecs.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = rows(Pq.searchIvfPq(vecs, queries, "vec_id", "embedding",
      ivf, pq, nProbe = 4, topK = 3))
    val plain = rows(Pq.search(vecs, queries, "vec_id", "embedding", pq,
      topK = 3))
    assert(full == plain)
    // partial probe returns a subset of cells' candidates, still ranked
    val partial = rows(Pq.searchIvfPq(vecs, queries, "vec_id", "embedding",
      ivf, pq, nProbe = 1, topK = 3))
    assert(partial.map(_._1).distinct.sorted == Seq(0L, 1L))
  }

  test("IVF refit: the advisory's drifted cell splits on its two " +
       "populations, migrated lists equal a from-scratch assign under " +
       "the new index row for row, and new-region recall recovers") {
    import spark.implicits._
    import graft.extensions.{Ivf, Similarity}
    val rng = new scala.util.Random(71)
    def cluster(axis: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * rng.nextGaussian().toFloat)
        v(axis * 4) += 1f
        (i.toLong, v)
      }
    // history occupies three separated clusters; the batch lands in a
    // region the frozen index never saw
    val hist = cluster(0, 0 until 40) ++ cluster(1, 40 until 80) ++
      cluster(2, 80 until 120)
    val batch = cluster(3, 200 until 240)
    val all = (hist ++ batch).toDF("vec_id", "embedding")
    val histDf = all.filter(col("vec_id") < 120)
    val batchDf = all.filter(col("vec_id") >= 200)
    val index = Ivf.trainDeterministic(histDf, "vec_id", "embedding", k = 3)
    val lists = Ivf.appendAssign(
        Ivf.assign(histDf, "vec_id", "embedding", index),
        batchDf, "vec_id", "embedding", index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val advisory = Ivf.refitAdvisory(
      Ivf.cellStats(Ivf.assign(histDf, "vec_id", "embedding", index), index),
      Ivf.cellStats(Ivf.assign(batchDf, "vec_id", "embedding", index), index))
    assert(advisory.filter(col("drifted")).count() >= 1,
      "the unseen-region batch must trip the advisory")
    val r = Ivf.refit(lists, advisory, index)
    assert(r.driftedCells.nonEmpty && r.index.k > index.k)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect()
        .map(x => (x.getLong(0), x.getInt(1))).toSet
    // the migration's case split must reproduce a from-scratch assign
    // under the new index exactly
    assert(cellsOf(r.lists) ==
      cellsOf(Ivf.assign(all, "vec_id", "embedding", r.index)))
    // recall recovery in the drifted region, single-probe search
    val queries = all.filter(col("vec_id") >= 200 && col("vec_id") < 205)
    val truth = Similarity.bruteForceTopK(all, queries, "vec_id",
        "embedding", 3)
      .select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    def recall(ls: org.apache.spark.sql.DataFrame,
               idx: Ivf.IvfIndex): Double = {
      val got = Ivf.searchLists(ls, queries, "vec_id", "embedding", idx,
          nProbe = 1, topK = 3)
        .select("query_id", "neighbor_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val after = recall(r.lists, r.index)
    assert(after >= 0.9, s"post-refit recall only $after")
    assert(after >= recall(lists, index),
      "refit must not lose recall in the drifted region")
  }

  test("IVF-PQ two-phase re-rank: a candidate-covering shortlist " +
       "reproduces the exact IVF search bit-for-bit; a planted twin " +
       "survives a tight shortlist and re-ranks first; no shuffle join") {
    import spark.implicits._
    import graft.extensions.{Ivf, Pq}
    val rng = new scala.util.Random(61)
    val base = (0 until 50).map(i =>
      (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val twin = (99L, base(1)._2.map(v => v * 1.0004f))
    val vecs = (base :+ twin).toDF("vec_id", "embedding")
    val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", k = 4)
    val pq = Pq.trainDeterministicCosine(vecs, "vec_id", "embedding",
      m = 4, nCodes = 8)
    val lists = Pq.codedListsCosine(vecs, "vec_id", "embedding", ivf, pq)
    val queries = vecs.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    // a shortlist covering every probed candidate makes phase 2 the
    // exact cosine rank over the same candidate set as Ivf.search —
    // identical output, cos values bit-for-bit (same fold, same guards)
    val wide = Pq.searchIvfPqRerank(lists, vecs, queries, "vec_id",
      "embedding", ivf, pq, nProbe = 2, shortlist = 60, topK = 3)
    assert(rows(wide) == rows(Ivf.search(vecs, queries, "vec_id",
      "embedding", ivf, nProbe = 2, topK = 3)))
    // every join in the two-phase plan broadcasts (probes, shortlist,
    // query vectors) — the corpus side never shuffles for a join
    assert(!wide.queryExecution.executedPlan.toString
      .contains("SortMergeJoin"))
    // tight shortlist: the twin's ADC distance to its query is
    // near-minimal, so it survives the R=5 cut and exact re-rank puts
    // it first
    val tight = Pq.searchIvfPqRerank(lists, vecs,
        vecs.filter(col("vec_id") === 1L), "vec_id", "embedding",
        ivf, pq, nProbe = 2, shortlist = 5, topK = 1)
      .collect()
    assert(tight.length == 1 && tight.head.getLong(1) == 99L,
      s"expected the twin first after re-rank, got ${tight.toSeq}")
  }

  test("span dedup: planted cross-doc span flagged, unique docs clean, " +
       "short docs emit no spans") {
    val common = (1 to 8).map(i => s"tok$i").mkString(" ") // exactly w toks
    val d = docsDf(
      1L -> s"$common alpha beta gamma",
      2L -> s"prefix words here $common",
      3L -> "totally different content with many unique words making spans",
      4L -> "short doc")
    val r = TextDedup.spanStats(d, "doc_id", "text", w = 8)
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // doc1: 11 toks → 4 windows; only the first (the planted span) dups
    assert(r(1L) == ((4L, 1L)))
    // doc2: 11 toks → 4 windows; only the last dups
    assert(r(2L) == ((4L, 1L)))
    // doc3: 9 toks → 2 windows, none duplicated
    assert(r(3L) == ((2L, 0L)))
    // doc4: fewer than w tokens → contributes no spans at all
    assert(!r.contains(4L))
  }

  test("span dedup: randomized equivalence with a brute-force reference") {
    val rng = new scala.util.Random(17)
    // small vocab forces genuine cross-doc window collisions
    val docs = (0L until 40L).map { id =>
      val n = 5 + rng.nextInt(20)
      id -> (0 until n).map(_ => s"w${rng.nextInt(12)}").mkString(" ")
    }
    val w = 5
    // brute-force reference
    val windows = docs.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      id -> toks.sliding(w).filter(_.length == w)
        .map(_.mkString(" ")).toSeq
    }.toMap
    val dupSpans = windows.values.flatten.toSeq
      .groupBy(identity)
      .filter { case (s, _) =>
        windows.count { case (_, ws) => ws.contains(s) } > 1 }
      .keySet
    val expect = windows.collect { case (id, ws) if ws.nonEmpty =>
      id -> ((ws.size.toLong, ws.count(dupSpans).toLong))
    }
    val got = TextDedup.spanStats(docsDf(docs: _*), "doc_id", "text", w = w)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }

  test("span dedup content-defined sampling: shared long region still " +
       "collides at sample=4, window volume drops") {
    val shared = (1 to 64).map(i => s"common$i").mkString(" ")
    val d = docsDf(
      1L -> s"$shared unique tail one here",
      2L -> s"different head text $shared")
    def stats(sample: Int) =
      TextDedup.spanStats(d, "doc_id", "text", w = 8, sample = sample)
        .collect()
        .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    val full = stats(1)
    val sampled = stats(4)
    // the 64-token shared region has 57 internal windows: even keeping
    // ~1/4 of windows, the SAME content-selected windows surface in
    // both docs → dup spans found in both
    assert(sampled.values.forall(_._2 > 0),
      s"sampling lost the shared region: $sampled")
    // and the selected-window volume really dropped
    val fullTotal = full.values.map(_._1).sum
    val sampledTotal = sampled.values.map(_._1).sum
    assert(sampledTotal < fullTotal / 2,
      s"expected ~4x fewer windows, got $sampledTotal of $fullTotal")
  }

  test("brute-force top-k ranks the planted near-dup first") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = (0 until 20).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dup = (99L, base.head._2.map(v => v * 1.001f))
    val vecs = (base :+ dup).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 99L) // nearest neighbor of 0 is its copy
    assert(top.head.getDouble(2) > 0.999)
  }

  test("asof join: latest at-or-before match, ties included, " +
       "no-prior-right is null, keys isolated") {
    import spark.implicits._
    import graft.ops.Joins
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"),
                   (2L, 10L, "e3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 99L, 999.0))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, "k", "t", Seq("v"))
      .collect()
      .map(r => (r.getString(2), Option(r.get(3)).map(_.toString)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      ("e0", None),          // before any right row for k=1
      ("e1", Some("100.0")), // exact tie at t=10 matches
      ("e2", Some("150.0")), // latest at-or-before 20 is t=15
      ("e3", None)),         // k=2's only right row is later
      s"got ${out.toSeq}")
  }

  test("binned range join: boundaries inclusive, multi-bin intervals " +
       "match once, non-contained points drop") {
    import spark.implicits._
    import graft.ops.Joins
    val points = Seq((1L, 0L, "p0"), (1L, 10L, "p10"), (1L, 35L, "p35"),
                     (1L, 36L, "p36"), (2L, 10L, "other"))
      .toDF("k", "t", "tag")
    // interval [10, 35] spans bins 1..3 at width 10; k=2 has none
    val intervals = Seq((1L, 10L, 35L, "iv"))
      .toDF("k", "lo", "hi", "name")
    val out = Joins.rangeJoinBinned(points, intervals, "k", "t",
        "lo", "hi", 10L)
      .select("tag", "name").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq(("p10", "iv"), ("p35", "iv")),
      s"inclusive bounds, single match each, got ${out.toSeq}")
  }

  test("round-5 edge cases: empty span corpus, PQ dim divisibility, " +
       "ring lookup against a single-doc ring") {
    import spark.implicits._
    // all docs shorter than the window → empty output, not an error
    val tiny = docsDf(1L -> "too short", 2L -> "also brief")
    assert(TextDedup.spanStats(tiny, "doc_id", "text", w = 8).count() == 0)
    // PQ refuses a subspace count that doesn't divide the dimension
    val vecs = Seq((1L, Array.fill(30)(0.5f)), (2L, Array.fill(30)(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.extensions.Pq.trainDeterministic(vecs, "vec_id", "embedding",
        m = 4, nCodes = 2)
    }
    assert(e.getMessage.contains("not divisible"))
    // one-doc ring: every probe resolves to that doc (hit or wrap)
    val oneDoc = Seq(7L).toDF("doc_id")
    val probes = Seq(("lo", "0" * 32), ("hi", "f" * 32)).toDF("pid", "h")
    val out = graft.ops.Joins.hashRingLookup(probes, "h", oneDoc,
        "doc_id", "neg")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("lo" -> 7L, "hi" -> 7L))
  }

  test("zOrderKey interleaves bits exactly: deinterleave recovers both " +
       "inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val pts = (0 until 200).map(_ =>
      (rng.nextInt(256).toLong, rng.nextInt(256).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.ops.Indexing.zOrderKey(col("x"), col("y"), 8).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val xr = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i)
        .reduce(_ | _)
      val yr = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i)
        .reduce(_ | _)
      assert(xr == x && yr == y, s"($x,$y) -> $z -> ($xr,$yr)")
    }
  }

  test("hash ring lookup matches the brute-force at-or-after-else-min " +
       "reference, including wrap-around") {
    import spark.implicits._
    import graft.ops.Joins
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val docIds = (0L until 200L).toSeq
    val docs = docIds.toDF("doc_id")
    // probes engineered to exercise hits, cross-bucket misses, and the
    // wrap-around past the largest ring position
    val probeHashes = (0 until 50).map(i => md5hex(s"probe$i")) ++
      Seq("ff" + "f" * 30, "00" + "0" * 30) // past ring end; before start
    val probes = probeHashes.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("pid", "h")
    val got = Joins.hashRingLookup(probes, "h", docs, "doc_id", "neg")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // brute-force reference
    val ring = docIds.map(id => md5hex(id.toString) -> id).sortBy(identity)
    probeHashes.zipWithIndex.foreach { case (h, i) =>
      val expect = ring.find(_._1 >= h).getOrElse(ring.head)._2
      assert(got(i.toLong) == expect,
        s"probe $i ($h): got ${got(i.toLong)}, want $expect")
    }
    assert(got.size == probeHashes.size)
  }

  test("salted join matches plain join results on a skewed key") {
    import spark.implicits._
    import graft.ops.Joins
    // hot key 1L carries 90% of the fact side
    val fact = ((1 to 900).map(i => (1L, i.toLong)) ++
        (1 to 100).map(i => (2L + i % 5, i.toLong)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
                  (5L, "d"), (6L, "e")).toDF("k", "name")
    val plain = fact.join(dim, "k").groupBy("name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Joins.saltedJoin(fact, dim, "k", saltFactor = 8)
      .groupBy("name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    val hot = Joins.hotKeys(fact, col("k"), 1).collect().head
    assert(hot.getLong(0) == 1L && hot.getLong(1) == 900L)
    // the point of salting, asserted at runtime: the hot key's rows
    // leave the (forced-shuffle) join spread over several reducers,
    // where the unsalted join necessarily lands them on ONE. AQE off:
    // its small-partition coalescing would re-merge the tiny test
    // partitions and hide the spread this asserts.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dimH = dim.hint("shuffle_hash")
      def hotParts(df: org.apache.spark.sql.DataFrame): Long = df
        .filter(col("k") === 1L)
        .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .distinct().count()
      assert(hotParts(fact.join(dimH, "k")) == 1L,
        "unsalted shuffle join must concentrate the hot key")
      val spread = hotParts(Joins.saltedJoin(fact, dimH, "k", saltFactor = 8))
      assert(spread > 1L,
        s"salted join must split the hot key across reducers, got $spread")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("multimodal: resize + frame sampling plumbing") {
    import spark.implicits._
    val docs = Seq((1L, "0123456789" * 20, "en", "srcA", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.withPayload(docs).as[Multimodal.MediaRow]
    // text payload: no image codec accepts it → flagged byte-stride stub
    val resized = Multimodal.resize(media, 4).collect().head
    assert(!resized.decoded)
    assert(resized.n_bytes == 50L)
    assert(resized.format == "img/srcA;x1/4")
    assert(resized.payload(1) == '4'.toByte) // every 4th byte
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
      .collect()
    assert(frames.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L))
    assert(frames.forall(!_.decoded)) // no codec accepts text bytes
    assert(frames.forall(_.payload.length <= 32))
  }

  test("multimodal: frame sampling is REAL for animated GIF — " +
       "stride-sampled frames with exact per-frame colors") {
    import spark.implicits._
    // 5-frame animated GIF, frame f solid color (40f+10, 30f+20, 20f+30)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    for (f <- 0 until 5) {
      val img = new java.awt.image.BufferedImage(
        6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = ((40 * f + 10) << 16) | ((30 * f + 20) << 8) | (20 * f + 30)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, rgb)
      w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    w.endWriteSequence(); ios.close(); w.dispose()
    val media = Seq(Multimodal.MediaRow(9L, bos.toByteArray, "vid/gif",
                                        bos.size().toLong)).toDS()
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
      .sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L)) // stride 2 of 5
    assert(frames.forall(_.decoded))
    val stats = Multimodal.frameStats(
      Multimodal.sampleFrames(media, stride = 2)).collect()
      .sortBy(_.frame_idx)
    for ((st, f) <- stats.zip(Seq(0, 2, 4))) {
      assert(st.decoded && st.width == 6L && st.height == 4L)
      assert(st.r_mean == 40.0 * f + 10 && st.g_mean == 30.0 * f + 20 &&
             st.b_mean == 20.0 * f + 30) // solid color → exact means
    }
  }

  test("multimodal: audio decode is REAL for WAV PCM — header fields + " +
       "exact square-wave sample stats; byte-stub fallback flagged") {
    import spark.implicits._
    // mono 16-bit square wave: 64 samples alternating ±1234 at 8 kHz
    val n = 64; val amp = 1234
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = if (i % 2 == 0) amp else -amp
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val wav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wav)
    val media = Seq(
      Multimodal.MediaRow(3L, wav.toByteArray, "aud/wav", wav.size().toLong),
      Multimodal.MediaRow(4L, "not audio".getBytes("UTF-8"), "aud/raw", 9L)
    ).toDS()
    val out = Multimodal.decodeAudio(media).collect()
      .map(a => a.doc_id -> a).toMap
    val ok = out(3L)
    assert(ok.decoded && ok.sample_rate == 8000L && ok.channels == 1L &&
           ok.n_frames == n.toLong)
    assert(ok.abs_sum == n.toLong * amp)        // every sample is ±amp
    assert(ok.zero_crossings == (n - 1).toLong) // sign flips each sample
    val bad = out(4L)
    assert(!bad.decoded && bad.sample_rate == -1L && bad.channels == -1L)
    assert(bad.abs_sum == "not audio".getBytes("UTF-8").map(_ & 0xff).sum)
  }

  test("multimodal: resize is a REAL box-filter area average — " +
       "hand-computed 4×4 → 2×2") {
    import spark.implicits._
    // 4×4 grayscale ramp: pixel (x, y) = 16*y + 4*x (values 0..60)
    val src = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = 16 * y + 4 * x
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", bos)
    val media = Seq(
      Multimodal.MediaRow(7L, bos.toByteArray, "img/png",
                          bos.size().toLong)).toDS()
    val out = Multimodal.resize(media, 2).collect().head
    assert(out.decoded)
    assert(out.format == "img/png;x1/2")
    val im = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.payload))
    assert(im.getWidth == 2 && im.getHeight == 2)
    // block averages: (0,0) = (0+4+16+20)/4 = 10; (1,0) = (8+12+24+28)/4
    // = 18; (0,1) = (32+36+48+52)/4 = 42; (1,1) = (40+44+56+60)/4 = 50
    def gray(x: Int, y: Int): Int = im.getRGB(x, y) & 0xff
    assert(gray(0, 0) == 10 && gray(1, 0) == 18)
    assert(gray(0, 1) == 42 && gray(1, 1) == 50)
    // all three channels carry the same mean (grayscale input)
    assert(((im.getRGB(1, 1) >> 16) & 0xff) == 50 &&
           ((im.getRGB(1, 1) >> 8) & 0xff) == 50)
  }

  test("multimodal: non-image payloads take the flagged histogram " +
       "fallback, deterministically") {
    import spark.implicits._
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
                   (2L, "another doc", "de", "srcB", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f1 = Multimodal.documentFeatures(docs).collect()
      .map(f => f.doc_id -> f).toMap
    val f2 = Multimodal.documentFeatures(docs).collect()
      .map(f => f.doc_id -> f).toMap
    assert(f1(1L).features.toSeq == f2(1L).features.toSeq) // deterministic
    assert(f1(1L).format == "img/srcA")
    assert(f1(1L).n_bytes == 11L)
    assert(!f1(1L).decoded && !f1(2L).decoded) // text bytes never decode
    // grid^2 bins: the fallback vector has the SAME dimension as the
    // decoded path, so the column composes with cosine/ANN directly
    assert(f1(1L).features.length == 16)
    assert(math.abs(f1(1L).features.sum - 1.0f) < 1e-5) // normalized hist
    assert(f1(1L).features.toSeq != f2(2L).features.toSeq)
  }

  test("snapshot diff classifies added/removed/changed/unchanged, " +
       "including docs too short to form a shingle") {
    import spark.implicits._
    import graft.extensions.TextAnalysis
    val oldSnap = Seq(
      (1L, "alpha bravo charlie delta"),
      (2L, "echo foxtrot golf hotel"),
      (3L, "india juliet kilo lima"),
      (4L, "xy"),
      (6L, "q")).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "alpha bravo charlie delta"),      // unchanged
      (2L, "completely different text here"), // changed
      (4L, "zz"),                             // short doc, still changed
      (6L, "q"),                              // short doc, unchanged
      (5L, "mike november oscar papa")).toDF("doc_id", "text") // added
    val got = TextAnalysis.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added", 6L -> "unchanged"))
    // NULL text must not masquerade as an add/remove: md5(NULL) is NULL,
    // so only the sentinel keeps these ids classified by PRESENCE
    val oldN = Seq((7L, null: String), (8L, "real text here"))
      .toDF("doc_id", "text")
    val newN = Seq((7L, null: String), (8L, null: String))
      .toDF("doc_id", "text")
    val gotN = TextAnalysis.snapshotDiff(oldN, newN, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(gotN == Map(7L -> "unchanged", 8L -> "changed"))
  }

  test("multimodal: the magic-byte sniff admits every JDK image family " +
       "and rejects text payloads") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    assert(Multimodal.looksLikeJdkImage(b(0xff, 0xd8, 0xff, 0xe0))) // JPEG
    assert(Multimodal.looksLikeJdkImage(b(0x89, 0x50, 0x4e, 0x47))) // PNG
    assert(Multimodal.looksLikeJdkImage("GIF89a".getBytes))
    assert(Multimodal.looksLikeJdkImage("BM1234".getBytes))
    assert(Multimodal.looksLikeJdkImage(b('I', 'I', 0x2a, 0x00))) // TIFF LE
    assert(Multimodal.looksLikeJdkImage(b('M', 'M', 0x00, 0x2a))) // TIFF BE
    // WBMP: 8x8 → header(4) + 1 byte/row × 8 rows = 12 bytes exactly
    assert(Multimodal.looksLikeJdkImage(
      b(Seq(0x00, 0x00, 8, 8) ++ Seq.fill(8)(0xaa): _*)))
    // multi-byte uintvar width (200 = 0x81 0x48): 25 bytes/row × 2 rows
    assert(Multimodal.looksLikeJdkImage(
      b(Seq(0x00, 0x00, 0x81, 0x48, 2) ++ Seq.fill(50)(0x55): _*)))
    assert(!Multimodal.looksLikeJdkImage("hello world".getBytes))
    assert(!Multimodal.looksLikeJdkImage(b(0xff, 0xd8))) // too short
    assert(!Multimodal.looksLikeJdkImage(Array.emptyByteArray))
    // a single leading zero (length-prefixed records, mp4 size bytes)
    // must NOT pay the probe — WBMP needs type AND fixheader zero
    assert(!Multimodal.looksLikeJdkImage(b(0x00, 0x01, 0x02, 0x03)))
    // two zero bytes alone don't buy a probe either: a 4-byte BE length
    // field < 65536 fails the JDK SPI's scanline-length arithmetic
    assert(!Multimodal.looksLikeJdkImage(b(0x00, 0x00, 0x01, 0x02, 0x03)))
    // zero width/height is not a decodable WBMP
    assert(!Multimodal.looksLikeJdkImage(b(0x00, 0x00, 0x00, 0x10)))
  }

  test("multimodal: decodeFeatures computes the 4x4 luminance grid from " +
       "the real raster") {
    import spark.implicits._
    // 8x8 grayscale gradient: gray(x, y) = 16x + 4y. Each 2x2 grid cell
    // (cx, cy) then averages to 16(2cx) + 16/2 + 4(2cy) + 4/2 =
    // 32cx + 8cy + 10, i.e. cell (R+G+B) sum = 12 * (32cx + 8cy + 10).
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 8).foreach(y => (0 until 8).foreach { x =>
      val g = 16 * x + 4 * y
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    })
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq(Multimodal.MediaRow(7L, png, "png", png.length.toLong)).toDS()
    val out = Multimodal.decodeFeatures(media).collect()
    assert(out.length == 1)
    val f = out.head
    assert(f.decoded && f.features.length == 16)
    // PNG signature bytes: 137 80 78 71 13 10 26 10
    assert(f.header_sum == 137L + 80 + 78 + 71 + 13 + 10 + 26 + 10)
    (0 until 4).foreach(cy => (0 until 4).foreach { cx =>
      val lum3 = 12L * (32 * cx + 8 * cy + 10)
      assert(f.features(cy * 4 + cx) == (lum3 / (4 * 765.0)).toFloat,
        s"cell ($cx, $cy)")
    })
    // 3x3 grid over a 2x2 image: replicate-edge keeps every cell filled
    val tiny = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 2).foreach(y => (0 until 2).foreach { x =>
      val g = 100 * x + 50 * y // 0, 100, 50, 150
      tiny.setRGB(x, y, (g << 16) | (g << 8) | g)
    })
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", bos2)
    val png2 = bos2.toByteArray
    val media2 =
      Seq(Multimodal.MediaRow(8L, png2, "png", png2.length.toLong)).toDS()
    val t = Multimodal.decodeFeatures(media2, grid = 3).collect().head
    assert(t.decoded && t.features.length == 9)
    assert(t.features.forall(v => v >= 0f && v <= 1f))
    // cell (0,0) covers pixel (0,0) alone -> gray 0; cell (2,2) covers
    // pixel (1,1) alone -> gray 150
    assert(t.features(0) == 0f)
    assert(t.features(8) == (3 * 150L / (1 * 765.0)).toFloat)
  }

  test("bloom decontamination: superset of the exact semi-join, zero " +
       "false negatives") {
    import graft.extensions.Decontam
    val bench = docsDf(100L -> "the quick brown fox jumps over lazy dogs")
    val docs = docsDf(
      1L -> "quick brown fox tails",             // shares "quick brown fox"
      2L -> "entirely unrelated clean content here",
      3L -> "jumps over lazy dogs again today")  // shares two shingles
    val bloom = Decontam.benchmarkBloom(bench, "text",
      expectedItems = 1000L, numBits = 1L << 16)
    val flagged = Decontam.flagContaminated(docs, "doc_id", "text", bloom)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    // exact contaminated set: docs sharing any 3-shingle with bench
    assert(Set(1L, 3L).subsetOf(flagged),
      s"bloom must never miss a contaminated doc, got $flagged")
    // the filter is sized generously here, so no false positives either
    assert(flagged == Set(1L, 3L))
  }

  test("bloom decontamination matches the exact flag set on testdata " +
       "(FP-freedom that the shared DuckDB oracle relies on)") {
    import graft.extensions.{Decontam, TextAnalysis, TextDedup}
    import graft.tables.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docs.filter(col("doc_id") < 5)
    val bloom = Decontam.benchmarkBloom(bench, "text")
    val flagged = Decontam.flagContaminated(docs, "doc_id", "text", bloom)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    def shingleSets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.shinglesOfTokens(col("toks"))))
          .as("sh"))
    val exact = shingleSets(docs)
      .join(shingleSets(bench).select("sh").distinct(), Seq("sh"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == exact,
      s"bloom/exact divergence: extra=${flagged -- exact}, missed=${exact -- flagged}")
  }

  test("incremental near-dup: new batch flagged only against history, " +
       "clean new docs absent") {
    import graft.extensions.TextDedup
    val hist = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "some other historical document lives here peacefully")
    val fresh = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta eta theta", // dup of 1
      11L -> "completely novel content with no match anywhere")
    val out = TextDedup.incrementalNearDups(fresh, hist, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 1L),
      s"only the near-dup new doc may be flagged, got $out")
  }

  test("indexed incremental near-dup (precomputed band index + " +
       "candidate-only verification) is row-identical to the " +
       "text-recomputing variant on a real corpus split") {
    import graft.extensions.TextDedup
    import graft.tables.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val isHist = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
    val (hist, fresh) = (docs.filter(isHist), docs.filter(!isHist))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // shingleN = 5 as well: the indexed path must verify candidates
    // with the caller's shingle width, not the default 3
    for (n <- Seq(3, 5)) {
      val ref = rows(TextDedup.incrementalNearDups(
        fresh, hist, "doc_id", "text", threshold = 0.3, shingleN = n))
      val idx = TextDedup.bandIndexOf(hist, "doc_id", "text", shingleN = n)
      val got = rows(TextDedup.incrementalNearDupsIndexed(
        fresh, idx, hist, "doc_id", "text", threshold = 0.3, shingleN = n))
      assert(ref.nonEmpty,
        s"shingleN=$n: split must plant at least one near-dup pair")
      assert(got == ref, s"shingleN=$n: indexed path diverged: " +
        s"extra=${got -- ref}, missed=${ref -- got}")
    }
  }

  test("unicode normalization: NFC composes, NFKC folds compatibility " +
       "forms, accent strip folds to ASCII") {
    import spark.implicits._
    import graft.functions.NormalizeText
    val df = Seq(("café", "ﬁne Ａ")).toDF("a", "b")
    val row = df.select(
        NormalizeText.nfc(col("a")).as("nfc"),
        NormalizeText.nfkc(col("b")).as("nfkc"),
        NormalizeText.stripAccents(col("a")).as("folded"))
      .collect().head
    assert(row.getString(0) == "café")        // e+combining -> é
    assert(row.getString(1) == "fine A")           // ligature + fullwidth
    assert(row.getString(2) == "cafe")
    // (SQL registration paths are covered in PlanShapeSpec, whose
    //  dedicated session attaches GraftExtensions)
  }

  test("native ws_tokens is bit-equivalent to filter(split(text, \\s+)) " +
       "on randomized text incl. unicode, tabs, and edge whitespace") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val pieces = Seq("word", "héllo", "日本語", "a", "", "x1!",
      "\t", "\n", " ", "", "\f", "\r", "  ", " nb")
    val texts = (0 until 300).map { _ =>
      (0 until rng.nextInt(12)).map(_ => pieces(rng.nextInt(pieces.size)))
        .mkString(if (rng.nextBoolean()) " " else "")
    } ++ Seq("", " ", "\t\n\r", "one", " lead", "trail ")
    val df = texts.toDF("text")
    val rows = df.select(
        graft.functions.Tokens(col("text")).as("native"),
        filter(split(col("text"), "\\s+"), t => length(t) > 0).as("hof"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch on ${t.map(c => f"\\u$c%04x" takeRight 6).mkString}")
    }
  }

  test("word shingles native expression is bit-equivalent to the " +
       "interpreted CASE/transform/slice chain") {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon",
      "one two three",   // exactly n
      "short pair",      // < n -> whole-text shingle
      "single",
      "",                // zero tokens -> [""]
      "a  b   c d e f g whitespace   runs")
    val df = texts.toDF("text")
      .select(graft.extensions.TextAnalysis.tokens(col("text")).as("toks"))
    val interpreted = df.select(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => array_join(slice(col("toks"), i + 1, lit(3)), " ")))
          .otherwise(array(array_join(col("toks"), " "))).as("sh"))
      .collect().map(_.getSeq[String](0))
    val native = df.select(
        graft.extensions.TextAnalysis.shinglesOfTokens(col("toks"), 3)
          .as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(native.toSeq == interpreted.toSeq)
  }

  test("word shingles: randomized equivalence with the interpreted chain " +
       "(lengths 0..12, n in 1..4, empty tokens included)") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val words = Vector("a", "bb", "ccc", "", "dd ee", "Ω", "tok")
    val cases = (0 until 60).map { _ =>
      (0 until rng.nextInt(13)).map(_ => words(rng.nextInt(words.size)))
    }
    for (n <- 1 to 4) {
      val df = cases.map(Tuple1(_)).toDF("toks")
      val interpreted = df.select(
          when(size(col("toks")) >= n,
            transform(sequence(lit(0), size(col("toks")) - n),
              i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
            .otherwise(array(array_join(col("toks"), " "))).as("sh"))
        .collect().map(_.getSeq[String](0))
      val native = df.select(
          graft.extensions.TextAnalysis.shinglesOfTokens(col("toks"), n)
            .as("sh"))
        .collect().map(_.getSeq[String](0))
      assert(native.toSeq == interpreted.toSeq, s"divergence at n=$n")
    }
  }

  test("simhash d>32: bits match an independent two-digest reference " +
       "implementation") {
    import spark.implicits._
    def refSimhash(feats: Seq[String], d: Int): String = {
      val votes = new Array[Int](d)
      val md = java.security.MessageDigest.getInstance("MD5")
      for (f <- feats) {
        def nibbles(input: String): Array[Int] = {
          md.reset()
          md.digest(input.getBytes("UTF-8")).flatMap(b =>
            Array((b >> 4) & 0xf, b & 0xf))
        }
        val n0 = nibbles(f)
        val n1 = if (d > 32) nibbles("1|" + f) else Array.empty[Int]
        for (j <- 0 until d) {
          val nib = if (j < 32) n0(j) else n1(j - 32)
          votes(j) += (if (nib >= 8) 1 else -1)
        }
      }
      votes.take(d).map(v => if (v >= 0) '1' else '0').mkString
    }
    val featSets = Seq(
      Seq("alpha", "beta", "gamma"),
      Seq("one two", "two three", "three four", "four five"),
      Seq("solo"))
    val df = featSets.map(Tuple1(_)).toDF("feats")
    for (d <- Seq(16, 32, 40, 64)) {
      val got = df.select(
          graft.extensions.TextDedup.simhashOf(col("feats"), d).as("fp"))
        .collect().map(_.getString(0))
      val want = featSets.map(refSimhash(_, d))
      assert(got.toSeq == want, s"divergence at d=$d")
    }
  }

  test("html strip: tags out, entities decoded, whitespace collapsed") {
    import spark.implicits._
    val out = Seq("<div>a  &amp;\n<b>bold</b>&nbsp;&#39;q&#39;</div>")
      .toDF("t")
      .select(graft.extensions.TextAnalysis.stripHtml(col("t")))
      .collect().head.getString(0)
    assert(out == "a & bold 'q'", s"got '$out'")
  }

  test("int8 quantization: extremes map to ±127, zero vector to zeros, " +
       "dequantized values within half a step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(2.0f, -4.0f, 1.0f)),   // max|x|=4 → scale 31.75
      (2L, Seq(0.0f, 0.0f)),          // zero vector → zeros, scale 0
      (3L, Seq(-0.5f))                // single negative → -127
    ).toDF("vec_id", "embedding")
    val out = graft.extensions.Similarity
      .quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2)))
    assert(out(0)._3 == Seq(64, -127, 32), s"got ${out(0)}") // floor(x*31.75+.5)
    assert(out(1) == ((2L, 0.0, Seq(0, 0))))
    assert(out(2)._3 == Seq(-127))
    // dequantization error bound: |q/scale - x| <= 0.5/scale
    val (_, s0, q0) = out(0)
    Seq(2.0, -4.0, 1.0).zip(q0).foreach { case (x, q) =>
      assert(math.abs(q / s0 - x) <= 0.5 / s0 + 1e-12) }
  }

  test("group split: deterministic, every member of a group on one side") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 20}"))
      .toDF("doc_id", "source")
    val out = docs.select(col("source"),
        graft.extensions.TextAnalysis.groupSplit(col("source")).as("split"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    // one split per group (no group straddles sides) and all three sides
    // exist over 20 groups with overwhelming probability under md5
    assert(out.length == 20, s"a group landed on two sides: ${out.toSeq}")
    assert(out.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // repeat run identical (seedless determinism)
    val again = docs.select(col("source"),
        graft.extensions.TextAnalysis.groupSplit(col("source")).as("split"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet == again.toSet)
  }

  test("sliding chunks: full coverage, stride overlap, short tail, " +
       "exact-boundary doc gets no empty chunk") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")     // 10 tokens
    val exact = (1 to 8).map(i => s"x$i").mkString(" ")    // 8 = 2 strides
    val docs = Seq((1L, doc), (2L, exact), (3L, " "))
      .toDF("doc_id", "text")
    val out = graft.extensions.TextAnalysis
      .slidingChunks(docs, "doc_id", "text", window = 6, stride = 4)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 (10 toks): chunks at 0,4,8 → sizes 6,6,2 (short tail kept)
    // doc 2 (8 toks): chunks at 0,4 → sizes 6,4 — NO empty chunk at 8
    // doc 3: no tokens → no rows
    assert(out.toSeq == Seq(
      (1L, 0L, 6L), (1L, 1L, 6L), (1L, 2L, 2L),
      (2L, 0L, 6L), (2L, 1L, 4L)), s"got ${out.toSeq}")
  }

  test("intra-doc line dedup: first occurrence kept, original order " +
       "preserved, blanks dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a.b.a.c.b.a"),     // repeats of a and b
      (2L, "x..x. .x"),        // blanks and spaces between repeats
      (3L, "..")               // nothing survives → no row
    ).toDF("doc_id", "text")
    val out = graft.extensions.TextAnalysis
      .dedupLinesWithin(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a.b.c"), (2L, "x")), s"got ${out.toSeq}")
  }

  test("MinK aggregator: merge-tree independent, bounded buffer, " +
       "matches sort-take") {
    val agg = new graft.ops.Udafs.MinK(3)
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val xs = Vector.fill(rnd.nextInt(30) + 1)(rnd.nextInt(100).toLong)
      val want = xs.sorted.take(3)
      // sequential reduce
      assert(xs.foldLeft(agg.zero)(agg.reduce) == want)
      // arbitrary two-way split merge (any partitioning must agree)
      val cut = rnd.nextInt(xs.length)
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
                             r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == want, s"split at $cut of $xs")
      assert(merged.length <= 3)
    }
    // distributed path: 8 partitions, forced partial aggregation
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000).toDF("id")
      .repartition(8)
      .withColumn("g", col("id") % 4)
    val got = df.groupBy("g")
      .agg(graft.ops.Udafs.minK(col("id"), 5).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    (0L until 4L).foreach { g =>
      assert(got(g) == (g until 1000L by 4L).take(5).toSeq) }
  }

  test("globalIndex: contiguous 0..n-1 in key order across partitions, " +
       "no single-partition window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shuffled input, multiple partitions, non-contiguous keys
    val df = spark.range(0, 500).toDF("k")
      .withColumn("k", col("k") * 7 % 501) // permutation of 0..500 minus one residue
      .repartition(8)
    val out = graft.ops.Indexing.globalIndex(df, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = out.map(_._1).sorted.zipWithIndex
      .map { case (k, i) => (k, i.toLong) }
    assert(out.sortBy(_._1).toSeq == want.toSeq)
    assert(out.map(_._2).sorted.toSeq == (0L until 500L))
  }

  test("bigram score is order-SENSITIVE where unigram is not: a " +
       "scrambled doc keeps its unigram score but drops its bigram " +
       "score; sub-2-token docs drop out") {
    import spark.implicits._
    import graft.extensions.TextAnalysis
    // docs 1-3 establish 'the cat sat' as the corpus's common order;
    // doc 4 has the same BAG of tokens scrambled; doc 5 is 1 token
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "sat the cat"), (5L, "the")
    ).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame, scoreIdx: Int) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(scoreIdx)).toMap
    val uni = m(TextAnalysis.unigramScores(docs, "doc_id", "text"), 2)
    val bi = m(TextAnalysis.bigramScores(docs, "doc_id", "text"), 2)
    // unigram: scrambled doc 4 == docs 1-3 (same token bag)
    assert(uni(4L) == uni(1L))
    // bigram: doc 4's transitions ('sat the', 'the cat') are rarer
    // than the canonical 'the cat','cat sat' — strictly lower score
    assert(bi(4L) < bi(1L), s"bi=$bi")
    assert(!bi.contains(5L) && uni.contains(5L))
  }

  test("token diversity: all-distinct docs score (n-1)/n, all-same " +
       "docs score 0, a scrambled doc scores IDENTICALLY (order-free), " +
       "empty docs drop") {
    import spark.implicits._
    import graft.extensions.TextAnalysis
    val docs = Seq(
      (1L, "a b c d"),    // all distinct: 1 - 4/16 = 0.75
      (2L, "x x x x"),    // one token: 1 - 16/16 = 0.0
      (3L, "b d a c"),    // doc 1 scrambled: identical score
      (4L, "a a b"),      // 1 - (4+1)/9
      (5L, " ")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDiversity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got(1L) == ((4L, 0.75)) && got(2L) == ((4L, 0.0)))
    assert(got(3L) == got(1L))
    assert(got(4L) == ((3L, (9.0 - 5.0) / 9.0)))
    assert(!got.contains(5L))
  }

  test("vocab OOV: rare terms count as OOV, all-vocab docs rate 0, " +
       "empty docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa aa bb"),   // both in top-2 vocab → 0 OOV
      (2L, "aa zz"),      // zz below the cut → 1/2
      (3L, "   ")         // no tokens → no row
    ).toDF("doc_id", "text")
    val out = graft.extensions.TextAnalysis
      .vocabOovRates(docs, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // vocab by (count desc, term asc): aa(3), bb(1) — zz(1) loses the
    // tie to bb alphabetically
    assert(out.toSeq == Seq((1L, 3L, 0L, 0.0), (2L, 2L, 1L, 0.5)),
      s"got ${out.toSeq}")
  }

  test("n-gram decontamination: embedded 15-token benchmark run flags " +
       "with exactly its 3 interior windows; clean and short docs don't") {
    import spark.implicits._
    val benchToks = (1 to 20).map(i => s"bt$i")
    val bench = Seq((0L, benchToks.mkString(" "))).toDF("bid", "btext")
    val embedded = ("own1 own2 " +
      benchToks.slice(3, 18).mkString(" ") + " own3 own4")
    val docs = Seq(
      1L -> embedded,                                   // 15-token run
      2L -> (1 to 30).map(i => s"cl$i").mkString(" "),  // clean
      3L -> benchToks.take(12).mkString(" "))           // < 13 tokens
      .toDF("doc_id", "text")
    val got = graft.extensions.Decontam
      .flagNgramContaminated(docs, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 15-token shared run contains 15-13+1 = 3 complete 13-gram
    // windows; windows straddling into own* tokens are not benchmark
    // windows and must not count
    assert(got == Map(1L -> 3L), s"got $got")
  }

  test("minhash expressions over a NON-nullable child: codegen compiles " +
       "(no silent fallback) and empty shingles yield null") {
    import graft.functions.{MinHashBands, MinHashSig}
    // when/otherwise over two non-nullable arrays stays non-nullable —
    // the exact shape that broke nullSafeCodeGen when the expressions
    // inherited nullable=false from the child (ADVICE r5: ev.isNull
    // never declared → Janino error → silent interpreted fallback)
    val df = spark.range(2).select(col("id"),
      when(col("id") === 0, slice(split(lit("x y"), " "), 1, 0))
        .otherwise(split(lit("alpha beta gamma delta"), " ")).as("sh"))
    assert(!df.schema("sh").nullable, "fixture must be non-nullable")
    val out = df.select(col("id"), MinHashSig(col("sh"), 4).as("sig"),
      MinHashBands(col("sh"), 8, 4).as("bands"))
    assert(out.schema("sig").nullable && out.schema("bands").nullable)
    // fail loudly if the generated code doesn't compile instead of
    // letting Spark fall back to interpreted eval
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = out.orderBy("id").collect()
      assert(rows(0).isNullAt(1) && rows(0).isNullAt(2),
        "empty shingle array must produce null sig/bands")
      assert(rows(1).getSeq[String](1).size == 4)
      assert(rows(1).getSeq[String](2).size == 4)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("image decode (javax.imageio): gradient PNG and solid BMP stats " +
       "match the pre-encoding pixels; garbage payload falls back flagged") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // gradient 6x4 PNG: channel values are known functions of (x, y)
    val (w, h) = (6, 4)
    val png = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var (rs, gs, bs) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = (x * 40, y * 60, (x + y) * 20)
      rs += r; gs += g; bs += b
      png.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    def bytes(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val bmp = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) bmp.setRGB(x, y, 0x102030)
    val media = Seq(
      extensions.Multimodal.MediaRow(1L, bytes(png, "png"), "png", 0L),
      extensions.Multimodal.MediaRow(2L, bytes(bmp, "bmp"), "bmp", 0L),
      extensions.Multimodal.MediaRow(3L, Array[Byte](1, 2, 3), "junk", 3L))
      .toDS()
    val got = extensions.Multimodal.decodeImages(media)
      .collect().map(s => s.doc_id -> s).toMap
    val n = (w * h).toDouble
    assert(got(1L).decoded && got(1L).width == w && got(1L).height == h)
    assert(got(1L).r_mean == rs / n && got(1L).g_mean == gs / n &&
           got(1L).b_mean == bs / n,
      s"PNG means ${got(1L)} != ($rs/$n, $gs/$n, $bs/$n)")
    assert(got(2L).decoded && got(2L).width == 3 && got(2L).height == 2 &&
           got(2L).r_mean == 0x10 && got(2L).g_mean == 0x20 &&
           got(2L).b_mean == 0x30)
    // undecodable payload: flagged fallback row, byte-mean stub stats
    assert(!got(3L).decoded && got(3L).width == -1L &&
           got(3L).r_mean == 2.0)
  }

  test("span dedup sampling keeps docs whose selected window set is " +
       "empty: row set is sample-invariant") {
    // doc 1 has exactly w tokens → 1 window; at sample=997 that single
    // window's hash is (deterministically) not selected, so before the
    // round-6 fix the doc vanished from the output
    val d = docsDf(
      1L -> (1 to 8).map(i => s"only$i").mkString(" "),
      2L -> (1 to 64).map(i => s"body$i").mkString(" "),
      3L -> "too short")
    val got = TextDedup.spanStats(d, "doc_id", "text", w = 8, sample = 997)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 2L),
      s"eligible docs (>= w tokens) must all appear, got ${got.keySet}")
    assert(got(1L)._1 == 0L && got(1L)._2 == 0L,
      s"unselected doc reports zero counts, got ${got(1L)}")
  }

  test("waterfillCap: cap is feasible AND maximal (f(cap) <= budget < " +
       "f(cap+1)) across skew, ties, singletons, zero groups, and the " +
       "keep-all budget; keeps() subsumption and edge behavior") {
    import spark.implicits._
    import graft.extensions.Mixture
    def f(ns: Seq[Long], c: Long): Long = ns.map(math.min(_, c)).sum
    def run(ns: Seq[Long], num: Long, den: Long): (Long, Long, Boolean) = {
      val row = Mixture.waterfillCap(
        ns.zipWithIndex.map { case (n, i) => (s"g$i", n) }.toDF("g", "ng"),
        "ng", num, den).collect().head
      (row.getLong(0), row.getLong(1), row.getBoolean(2))
    }
    val fixtures = Seq(
      Seq(10L, 100L), Seq(40L, 100L), Seq(5L, 5L, 5L, 1000L),
      Seq(7L), Seq(0L, 0L, 50L), Seq(3L, 14L, 14L, 159L, 2653L),
      (1L to 20L).map(i => i * i))
    for (ns <- fixtures) {
      val (b, cap, keepAll) = run(ns, 1L, 3L)
      assert(b == ns.sum / 3, s"$ns: budget")
      if (keepAll) assert(ns.sum <= b)
      else {
        assert(f(ns, cap) <= b, s"$ns: f($cap)=${f(ns, cap)} > $b")
        assert(f(ns, cap + 1) > b,
          s"$ns: cap $cap not maximal (f(cap+1)=${f(ns, cap + 1)} <= $b)")
      }
    }
    // keep-all: budget = the whole corpus
    val (_, _, ka) = run(Seq(10L, 20L), 1L, 1L)
    assert(ka, "budget >= total must flag keep_all")
    // keeps(): a group at the cap survives whole for EVERY hash value
    // (h=65535: 65535·cap < 65536·cap), and a zero-cap group drops its
    // sampled rows but ng=0 groups survive via the explicit clause
    val probe = Seq((1L, 5L), (2L, 0L)).toDF("doc_id", "ng")
    val kept = probe.filter(Mixture.keeps(col("doc_id"), col("ng"),
        lit(5L), lit(false))).select("doc_id").collect().map(_.getLong(0))
    assert(kept.toSet == Set(1L, 2L))
  }

  test("cap solvers' groups-cardinality contract (VERDICT r17 #6): " +
       "the global window / m×m self-join is sized for per-group " +
       "aggregates — past maxGroups both solvers raise loudly from " +
       "the riding in-plan guard (zero extra jobs), and the bound is " +
       "a deliberate knob") {
    import spark.implicits._
    import graft.extensions.Mixture
    val big = (1L to 50L).map(i => (s"g$i", i)).toDF("g", "ng")
      .withColumn("wg", lit(1L))
    def msg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && !String.valueOf(c.getMessage)
          .contains("maxGroups")) c = c.getCause
      String.valueOf(c.getMessage)
    }
    val e1 = intercept[Exception](Mixture.waterfillCap(
      big, "ng", 1L, 3L, maxGroups = 10L).collect())
    assert(msg(e1).contains("waterfillCap") && msg(e1).contains("50"))
    val e2 = intercept[Exception](Mixture.weightedCap(
      big, "ng", "wg", 1L, 3L, maxGroups = 10L).collect())
    assert(msg(e2).contains("weightedCap") && msg(e2).contains("50"))
    // at (or under) the bound both run — the knob is deliberate
    assert(Mixture.waterfillCap(big, "ng", 1L, 3L, maxGroups = 50L)
      .collect().length == 1)
    assert(Mixture.weightedCap(big, "ng", "wg", 1L, 3L, maxGroups = 50L)
      .collect().length == 1)
  }

  test("waterfillCap randomized sweep: feasible and maximal for 60 " +
       "hash-derived group vectors across budget fractions") {
    import spark.implicits._
    import graft.extensions.Mixture
    def f(ns: Seq[Long], c: Long): Long = ns.map(math.min(_, c)).sum
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 20; (num, den) <- Seq((1L, 3L), (1L, 10L), (3L, 4L))) {
      val m = 1 + rnd.nextInt(12)
      val ns = Seq.fill(m)(rnd.nextInt(5000).toLong)
      val row = Mixture.waterfillCap(
        ns.zipWithIndex.map { case (n, i) => (s"g$i", n) }.toDF("g", "ng"),
        "ng", num, den).collect().head
      val (b, cap, keepAll) = (row.getLong(0), row.getLong(1),
        row.getBoolean(2))
      assert(b == ns.sum * num / den, s"trial $trial: budget")
      if (keepAll) assert(ns.sum <= b, s"trial $trial ($ns): keep_all")
      else {
        assert(f(ns, cap) <= b && f(ns, cap + 1) > b,
          s"trial $trial ($ns, $num/$den): cap=$cap b=$b " +
            s"f(cap)=${f(ns, cap)} f(cap+1)=${f(ns, cap + 1)}")
      }
    }
  }

  test("fixed-point PCA: matches the sequential BigInt reference on a " +
       "planted-direction corpus, any partitioning; aligns with the " +
       "planted axis; rejects zero corpora and wrong dims") {
    import spark.implicits._
    import graft.extensions.Pca
    val d = 5
    // planted dominant direction (3,1,-2,0,1)/norm with deterministic
    // small off-axis noise
    val dir = Seq(3.0, 1.0, -2.0, 0.0, 1.0)
    val vecs = (0 until 60).map { k =>
      val a = (k % 7 - 3).toDouble // mixed signs along the axis
      val noise = (i: Int) => ((k * 31 + i * 17) % 11 - 5) * 0.01
      (k.toLong, (0 until d).map(i => (a * dir(i) + noise(i)).toFloat))
    }
    def ref(rows: Seq[(Long, Seq[Float])], iters: Int): Seq[Long] = {
      val q = rows.map(_._2.map(x =>
        math.floor(x.toDouble * 1024 + 0.5).toLong))
      val gram = Array.tabulate(d, d)((i, j) =>
        q.map(v => BigInt(v(i)) * v(j)).sum)
      val start = (0 until d).maxBy(i => (gram(i)(i), -i))
      var v = Array.tabulate(d)(i =>
        if (i == start) BigInt(Pca.Scale) else BigInt(0))
      for (_ <- 1 to iters) {
        val w = Array.tabulate(d)(i =>
          (0 until d).map(j => gram(i)(j) * v(j)).sum)
        val m = w.map(_.abs).max
        v = w.map(x => x * Pca.Scale / m)
      }
      v.map(_.toLong).toSeq
    }
    for (parts <- Seq(1, 7)) {
      val df = vecs.toDF("vec_id", "embedding").repartition(parts)
      val got = Pca.topComponent(df, "embedding", d, iterations = 8)
      assert(got == ref(vecs, 8), s"parts=$parts")
      // alignment: dominant |component| on the planted axis' largest
      // coordinate, signs proportional to dir (up to global sign)
      val sgn = if (got(0) > 0) 1 else -1
      assert(math.abs(got(0)) == got.map(math.abs).max)
      assert(got(2).sign == -sgn && got(3).abs < got(1).abs)
      // projections: engine == per-row dot product with the component
      val proj = Pca.project(df, "vec_id", "embedding", d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val qrows = vecs.map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1024 + 0.5).toLong) }
      for ((id, q) <- qrows)
        assert(proj(id) == q.zip(got).map { case (a, b) => a * b }.sum)
    }
    // Gram additivity — the resume artifact's exactness claim:
    // gram(A) + gram(B) == gram(A ∪ B) bit for bit, so the merged
    // component and projections equal the from-scratch ones
    val (ha, hb) = vecs.partition(_._1 % 2 == 0)
    val gSplit = Pca.addGrams(
      Pca.gramOf(ha.toDF("vec_id", "embedding"), "embedding", d),
      Pca.gramOf(hb.toDF("vec_id", "embedding"), "embedding", d))
    val gFull = Pca.gramOf(vecs.toDF("vec_id", "embedding"), "embedding", d)
    assert(gSplit == gFull)
    // the all-ones-start killer: every vector ∝ (1,−1), so every Gram
    // row sums to zero — an all-ones start is annihilated in step 1
    // ("zero Gram" crash on a well-posed corpus); the max-diagonal
    // basis start must recover the direction exactly
    val anti = (0 until 10).map(k =>
      (k.toLong, Seq((k + 1).toFloat, -(k + 1).toFloat)))
    val gotA = Pca.topComponent(anti.toDF("vec_id", "embedding"), "embedding", 2)
    assert(gotA == Seq(Pca.Scale, -Pca.Scale), s"got $gotA")
    val zero = Seq((0L, Seq.fill(d)(0.0f))).toDF("vec_id", "embedding")
    val exZ = intercept[IllegalArgumentException](
      Pca.topComponent(zero, "embedding", d))
    assert(exZ.getMessage.contains("no principal direction"))
    val bad = Seq((0L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val exD = intercept[Exception](Pca.topComponent(bad, "embedding", d))
    val msgs = Iterator.iterate(exD: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("expected 5"), s"got: $msgs")
    // projection-side dimension guard: zip_with would pad the shorter
    // side with nulls and proj would go silently null — the guard
    // raises loudly instead (ADVICE r12)
    val exP = intercept[Exception](
      Pca.projectWith(bad, "vec_id", "embedding",
        Seq(100L, 100L, 100L, 100L, 100L)).collect())
    val pMsgs = Iterator.iterate(exP: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(pMsgs.contains("row vector length != component length 5"),
      s"got: $pMsgs")
    // NULL vector must hit the SAME guard: size(null) is null, so the
    // dimension predicate alone evaluates null, falls to otherwise,
    // and the projection would go silently null — the exact quiet
    // failure the guard exists to prevent (ADVICE r13)
    val nullVec = Seq((0L, Seq(1.0f, 2.0f)), (1L, null))
      .toDF("vec_id", "embedding")
    val exN = intercept[Exception](
      Pca.projectWith(nullVec, "vec_id", "embedding",
        Seq(100L, 100L)).collect())
    val nMsgs = Iterator.iterate(exN: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(nMsgs.contains("row vector length != component length 2") &&
      nMsgs.contains("null"), s"got: $nMsgs")
  }

  test("top-r PCA: r=1 reduces to topComponent bit for bit; the " +
       "deflated Gram annihilates the first direction to truncation " +
       "residue; a planted two-axis corpus recovers near-orthogonal " +
       "directions matching the sequential BigInt reference") {
    import spark.implicits._
    import graft.extensions.Pca
    val d = 6
    // exactly orthogonal planted axes, dir1 dominant
    val dir1 = Seq(3.0, 1.0, -2.0, 0.0, 1.0, 0.5)
    val dir2 = Seq(1.0, -3.0, 0.0, 2.0, 0.0, 0.0)
    assert(dir1.zip(dir2).map { case (x, y) => x * y }.sum == 0.0)
    val vecs = (0 until 80).map { k =>
      val a = (k % 9 - 4).toDouble * 2
      val b = (k % 5 - 2).toDouble
      (k.toLong, (0 until d).map(i =>
        (a * dir1(i) + b * dir2(i) +
          ((k * 13 + i * 7) % 7 - 3) * 0.01).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val comps = Pca.topComponents(df, "embedding", d, r = 2,
      iterations = 12)
    // r=1 reduction: the deflation path must not perturb the top
    // component
    assert(comps.head ==
      Pca.topComponent(df, "embedding", d, iterations = 12))
    assert(Pca.topComponents(df, "embedding", d, r = 1,
      iterations = 12) == Seq(comps.head))
    // sequential BigInt reference of the WHOLE r=2 algorithm
    // (independent re-derivation: gram, power iteration, two-stage
    // truncated deflation, second iteration)
    def refTop2: Seq[Seq[Long]] = {
      val q = vecs.map(_._2.map(x =>
        math.floor(x.toDouble * 1024 + 0.5).toLong))
      var g = IndexedSeq.tabulate(d * d)(idx =>
        q.map(v => BigInt(v(idx / d)) * v(idx % d)).sum)
      def iterate(m: IndexedSeq[BigInt]): Seq[Long] = {
        val start = (0 until d).maxBy(i => (m(i * d + i), -i))
        var v = Array.tabulate(d)(i =>
          if (i == start) BigInt(Pca.Scale) else BigInt(0))
        for (_ <- 1 to 12) {
          val w = Array.tabulate(d)(i =>
            (0 until d).map(j => m(i * d + j) * v(j)).sum)
          val mx = w.map(_.abs).max
          v = w.map(x => x * Pca.Scale / mx)
        }
        v.map(_.toLong).toSeq
      }
      val v1 = iterate(g)
      val vb = v1.map(BigInt(_))
      val beta = vb.map(x => x * x).sum
      val alpha = (0 until d).map(i => (0 until d).map(j =>
        g(i * d + j) * vb(j)).sum * vb(i)).sum
      val u = vb.map(vi => alpha * vi / beta)
      g = IndexedSeq.tabulate(d * d)(idx =>
        g(idx) - u(idx / d) * vb(idx % d) / beta)
      Seq(v1, iterate(g))
    }
    assert(comps == refTop2)
    // deflation exactness: v1' G_deflated v1 collapses to truncation
    // residue (each entry's trunc error < 1, |vᵀ(G−λvvᵀ... )v| ≤
    // Σ|v_i v_j| < d²·Scale²) — while v1' G v1 is astronomically
    // larger
    val q = vecs.map(_._2.map(x =>
      math.floor(x.toDouble * 1024 + 0.5).toLong))
    val g0 = IndexedSeq.tabulate(d * d)(idx =>
      q.map(v => BigInt(v(idx / d)) * v(idx % d)).sum)
    val g1 = Pca.deflate(g0, comps.head, d)
    def quad(m: IndexedSeq[BigInt], v: Seq[Long]): BigInt =
      (0 until d).map(i => (0 until d).map(j =>
        m(i * d + j) * v(j)).sum * v(i)).sum
    val before = quad(g0, comps.head)
    val after = quad(g1, comps.head).abs
    assert(after <= BigInt(d.toLong * d) * BigInt(Pca.Scale) *
      BigInt(Pca.Scale), s"residue too large: $after")
    assert(after * 1000 < before, s"deflation left $after of $before")
    // near-orthogonality and axis recovery (sign-corrected cosines)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val c1 = comps(0).map(_.toDouble)
    val c2 = comps(1).map(_.toDouble)
    assert(math.abs(cos(c1, c2)) < 0.05, s"v1·v2 cos = ${cos(c1, c2)}")
    assert(math.abs(cos(c1, dir1)) > 0.95)
    assert(math.abs(cos(c2, dir2)) > 0.95)
  }

  test("2-D typicality staging (pca_curriculum's key): the " +
       "|proj|+|proj2| plane radius stages an axis-2-extreme vector " +
       "LAST where the 1-D key calls it near-typical; sampled " +
       "per-label quartiles over the 2-D key reduce to the exact " +
       "window formula when sampleN covers every label") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import graft.extensions.Pca
    import graft.ops.AggOps
    val d = 6
    val dir1 = Seq(3.0, 1.0, -2.0, 0.0, 1.0, 0.5)
    val dir2 = Seq(1.0, -3.0, 0.0, 2.0, 0.0, 0.0)
    // dir1 dominant across the bulk; vec 999 is ORDINARY on dir1
    // (a = 0) but extreme on dir2 (b = 30) — the quality-outlier
    // shape a 1-D typicality key cannot see
    val vecs = (0 until 60).map { k =>
      val a = (k % 9 - 4).toDouble * 2
      val b = (k % 5 - 2).toDouble
      (k.toLong, (0 until d).map(i =>
        (a * dir1(i) + b * dir2(i)).toFloat))
    } :+ (999L, (0 until d).map(i => (30.0 * dir2(i)).toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val comps = Pca.topComponents(df, "embedding", d, r = 2,
      iterations = 8)
    val proj = Pca.projectManyWith(df, "vec_id", "embedding",
      Seq("proj" -> comps(0), "proj2" -> comps(1)))
    val rows = proj.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (p999, q999) = rows.find(_._1 == 999L)
      .map(r => (math.abs(r._2), math.abs(r._3))).get
    val maxP = rows.map(r => math.abs(r._2)).max
    val maxL1 = rows.map(r => math.abs(r._2) + math.abs(r._3)).max
    assert(p999 < maxP / 2,
      s"999 should look ordinary on the dominant axis: $p999 vs $maxP")
    assert(p999 + q999 == maxL1,
      "999 must be the corpus' extreme under the 2-D plane radius")
    // sampled per-label quartiles over the 2-D key == window formula
    // when every label fits in the sample (exactness reduction)
    val lbl = proj.withColumn("label", pmod(col("vec_id"), lit(3L)))
    val ord = Seq(abs(col("proj")) + abs(col("proj2")), col("vec_id"))
    val bounds = AggOps.tierBoundariesSampled(lbl, "label", ord, 4,
      col("vec_id"), sampleN = 4096).drop("cnt", "scnt")
    val got = lbl.join(broadcast(bounds), "label")
      .select(col("vec_id"),
        AggOps.tierOf(ord, 4).cast("int").as("stage"))
    val expected = lbl
      .withColumn("rn", row_number().over(Window.partitionBy("label")
        .orderBy(abs(col("proj")) + abs(col("proj2")), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("vec_id"),
        expr("((rn - 1) * 4) div cnt").cast("int").as("stage"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // and the axis-2 outlier lands in the LAST stage of its label
    assert(got.filter(col("vec_id") === 999L).collect()
      .head.getInt(1) == 3)
  }

  test("weightedCap: feasible AND maximal (f(cap) <= budget < f(cap+1)) " +
       "with sqrt weights and random weights; all-1 weights reduce to " +
       "waterfillCap; bad weights raise") {
    import spark.implicits._
    import graft.extensions.Mixture
    def f(gs: Seq[(Long, Long)], c: Long): Long =
      gs.map { case (n, w) => math.min(n, c * w) }.sum
    def run(gs: Seq[(Long, Long)], num: Long, den: Long)
        : (Long, Long, Boolean) = {
      val row = Mixture.weightedCap(
        gs.zipWithIndex.map { case ((n, w), i) => (s"g$i", n, w) }
          .toDF("g", "ng", "wg"), "ng", "wg", num, den)
        .collect().head
      (row.getLong(0), row.getLong(1), row.getBoolean(2))
    }
    val rnd = new scala.util.Random(733)
    for (trial <- 1 to 20; (num, den) <- Seq((1L, 3L), (1L, 10L))) {
      val m = 1 + rnd.nextInt(10)
      val gs = Seq.fill(m) {
        val n = rnd.nextInt(5000).toLong
        val w = if (trial % 2 == 0) math.sqrt(n.toDouble).toLong.max(1L)
                else 1L + rnd.nextInt(40).toLong
        (n, w)
      }
      val live = gs.filter(_._1 > 0)
      val (b, cap, keepAll) = run(gs, num, den)
      assert(b == live.map(_._1).sum * num / den, s"trial $trial: budget")
      if (keepAll) assert(live.map(_._1).sum <= b)
      else assert(f(live, cap) <= b && f(live, cap + 1) > b,
        s"trial $trial ($gs, $num/$den): cap=$cap b=$b " +
          s"f(cap)=${f(live, cap)} f(cap+1)=${f(live, cap + 1)}")
    }
    // all-1 weights ARE flat waterfilling, bit for bit
    for (ns <- Seq(Seq(10L, 100L), Seq(5L, 5L, 5L, 1000L),
        Seq(3L, 14L, 159L, 2653L))) {
      val flat = Mixture.waterfillCap(
        ns.zipWithIndex.map { case (n, i) => (s"g$i", n) }.toDF("g", "ng"),
        "ng", 1L, 3L).collect().head
      val wtd = run(ns.map((_, 1L)), 1L, 3L)
      assert(wtd == ((flat.getLong(0), flat.getLong(1),
        flat.getBoolean(2))))
    }
    val ex = intercept[Exception](run(Seq((10L, 0L), (5L, 1L)), 1L, 3L))
    assert(ex.getMessage.contains("non-positive or null weight"))
    // exact-threshold discrimination where IEEE doubles collide:
    // (2^53+1)/2 and 2^52/1 have ratio doubles both equal to 2^52
    // (2^53+1 is not representable), but exact thresholds differ —
    // the m² cross-multiplied order must still produce the true
    // maximal cap (checked with BigInt arithmetic: Long f() would
    // overflow at these magnitudes)
    def fB(gs: Seq[(Long, Long)], c: BigInt): BigInt =
      gs.map { case (n, w) => BigInt(n).min(c * w) }.sum
    val huge = Seq(((1L << 53) + 1L, 2L), (1L << 52, 1L), (1000L, 1L))
    val (bH, capH, kaH) = run(huge, 1L, 3L)
    assert(!kaH)
    assert(fB(huge, capH) <= bH && fB(huge, capH + 1) > bH,
      s"huge-threshold case: cap=$capH b=$bH")
    // duplicate (n, w) blocks: four identical groups plus one big one
    val dup = Seq((100L, 3L), (100L, 3L), (100L, 3L), (100L, 3L),
      (100000L, 10L))
    val (bD, capD, kaD) = run(dup, 1L, 3L)
    assert(!kaD)
    assert(fB(dup, capD) <= bD && fB(dup, capD + 1) > bD,
      s"duplicate-block case: cap=$capD b=$bD")
  }

  test("withKeepRate16: whole groups rate 65536, sampled groups match " +
       "BigInt floor(cap*wg*65536/ng), zero groups survive, and " +
       "keepsAtRate keeps every doc at rate 65536") {
    import spark.implicits._
    import graft.extensions.Mixture
    val groups = Seq(
      ("small", 10L, 3L), ("at_cap", 21L, 3L), ("big", 100000L, 316L),
      ("huge", 4000000000L, 63245L), ("empty", 0L, 0L))
      .toDF("g", "ng", "wg")
    val cap = 7L
    val rated = Mixture.withKeepRate16(
        groups.withColumn("cap", lit(cap))
          .withColumn("keep_all", lit(false)))
      .select("g", "ng", "wg", "rate16").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    for ((g, (ng, wg, r16)) <- rated) {
      val expect =
        if (ng <= 0) 65536L
        else (BigInt(math.min(cap, ng)) * wg * 65536 / ng)
          .min(65536).toLong
      assert(r16 == expect, s"$g: rate16=$r16 expect=$expect")
    }
    assert(rated("small")._3 == 65536L && rated("empty")._3 == 65536L)
    assert(rated("big")._3 == (BigInt(7L) * 316 * 65536 / 100000).toLong)
    // rate 65536 keeps h16=65535 (the max); rate 0 keeps nothing
    val probe = (0L until 200L).toDF("doc_id")
    val keptAll = probe.filter(Mixture.keepsAtRate(col("doc_id"),
      lit(65536L))).count()
    val keptNone = probe.filter(Mixture.keepsAtRate(col("doc_id"),
      lit(0L))).count()
    assert(keptAll == 200L && keptNone == 0L)
  }

  test("qualityWeightedKeep: a constant tier with multiplier 1 reduces " +
       "to the mixture_temperature chain bit for bit; real multipliers " +
       "tilt the spend toward the top quality tier inside the cut " +
       "language") {
    import spark.implicits._
    import graft.extensions.Mixture
    // 3 languages, en dominant (~75% of tokens) so the 1/3 budget cuts
    // it; per-doc quality tier 0..3 independent of language
    val docs = (0 until 400).map { i =>
      val lang = if (i % 8 < 6) "en" else if (i % 8 == 6) "fr" else "de"
      (i.toLong, lang, 50L + (i * 2654435761L % 100L), i % 4)
    }.toDF("doc_id", "lang", "n_tokens", "qtier")
    // reduction: constant tier column, multiplier 1 — must equal the
    // sqrtWeight/weightedCap/withKeepRate16/keepsAtRate composition
    val flat = docs.withColumn("zt", lit(0))
    val red = Mixture.qualityWeightedKeep(flat, "doc_id", "lang", "zt",
        "n_tokens", lit(1), 1L, 3L)
      .select("doc_id", "lang", "n_tokens", "qtier")
    val g = docs.groupBy("lang").agg(sum(col("n_tokens")).as("ng"))
      .withColumn("wg", Mixture.sqrtWeight(col("ng")))
    val cap = Mixture.weightedCap(g, "ng", "wg", 1L, 3L)
    val rated = Mixture.withKeepRate16(g.crossJoin(broadcast(cap)))
    val temp = docs
      .join(broadcast(rated.select("lang", "rate16")), "lang")
      .filter(Mixture.keepsAtRate(col("doc_id"), col("rate16")))
      .select("doc_id", "lang", "n_tokens", "qtier")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(rows(red) == rows(temp),
      "multiplier-1 constant-tier chain must BE the temperature chain")
    // real multipliers: tier 0 (×4) must keep a strictly larger
    // fraction of en than tier 3 (×1) once the budget cuts en
    val kept = rows(Mixture.qualityWeightedKeep(docs, "doc_id", "lang",
      "qtier", "n_tokens", lit(4) - col("qtier"), 1L, 3L))
    val all = rows(docs.select("doc_id", "lang", "n_tokens", "qtier"))
    def frac(t: Int) = {
      val tot = all.count(r => r._2 == "en" && r._4 == t).toDouble
      kept.count(r => r._2 == "en" && r._4 == t) / tot
    }
    assert(frac(0) > frac(3),
      s"quality tilt missing: tier0 ${frac(0)} vs tier3 ${frac(3)}")
    // deterministic form of the tilt: the per-cell keep RATES (not the
    // md5-noisy realized fractions) obey rate ∝ mult/√n, so en tier 0
    // (×4) beats en tier 3 (×1) by more than 2× even though tier 0's
    // cell carries ~2× the tokens (4/√2 ≈ 2.83)
    val cells = docs.groupBy("lang", "qtier")
      .agg(sum(col("n_tokens")).as("ng"))
      .withColumn("wg",
        Mixture.sqrtWeight(col("ng")) * (lit(4) - col("qtier")).cast("long"))
    val qcap = Mixture.weightedCap(cells, "ng", "wg", 1L, 3L)
    val rates = Mixture.withKeepRate16(cells.crossJoin(broadcast(qcap)))
      .filter(col("lang") === "en").collect()
      .map(r => r.getAs[Int]("qtier") -> r.getAs[Long]("rate16")).toMap
    assert(rates(0) > 2 * rates(3),
      s"4x weight should separate the rates: $rates")
    assert(rates(0) > rates(1) && rates(1) > rates(3),
      s"rates must be monotone in the multiplier: $rates")
  }

  test("qualityWeightedKeep raises on a null group or tier instead of " +
       "silently dropping the row at the rate join (ADVICE r14 #3 — " +
       "the weightedCap loud-failure contract)") {
    import spark.implicits._
    import graft.extensions.Mixture
    val nullLang = Seq((1L, Option("en"), 10L, 0),
        (2L, Option.empty[String], 10L, 1))
      .toDF("doc_id", "lang", "n_tokens", "qtier")
    val ex = intercept[Exception] {
      Mixture.qualityWeightedKeep(nullLang, "doc_id", "lang", "qtier",
        "n_tokens", lit(4) - col("qtier"), 1L, 3L).collect()
    }
    def msgs(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs(ex).contains("null lang/qtier"), msgs(ex))
    val nullTier = Seq((1L, "en", 10L, Option(0)),
        (2L, "en", 10L, Option.empty[Int]))
      .toDF("doc_id", "lang", "n_tokens", "qtier")
    val ex2 = intercept[Exception] {
      Mixture.qualityWeightedKeep(nullTier, "doc_id", "lang", "qtier",
        "n_tokens", lit(1), 1L, 3L).collect()
    }
    assert(msgs(ex2).contains("null lang/qtier"), msgs(ex2))
  }

  test("dedup_quality_keeper semantics: a cluster keeps its " +
       "highest-quality member even when it has the higher id; exact " +
       "score ties fall back to the smallest id") {
    import spark.implicits._
    import graft.extensions.{Components, TextAnalysis, TextDedup}
    val base = ("the quick brown fox jumps over the lazy dog and runs " +
      "far away home tonight ") * 3
    val docs = Seq(
      // same shingle set + punctuation garbage -> near-dup of 2 with a
      // strictly LOWER quality score (punct ratio + diluted stopwords)
      (1L, base + " !!!! ???? ;;;; ::::"),
      (2L, base),
      // identical twins -> byte-equal scores, tie-break by id
      (10L, "completely different words entirely unrelated content here"),
      (11L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val pairs = TextDedup.jaccardVerified(docs, "doc_id", "text", 0.5)
      .select(col("id_a"), col("id_b"))
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 2L), (10L, 11L)), "fixture sanity: two clusters")
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
    val scored = docs.select(col("doc_id").as("id"),
      TextAnalysis.qualityScore(col("text")).as("score"))
    val s = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(2L) > s(1L), "fixture sanity: clean copy scores higher")
    assert(s(10L) == s(11L), "fixture sanity: twins tie exactly")
    val keepers = comps.join(scored, "id")
      .groupBy("comp")
      .agg(max_by(col("id"), struct(col("score"), negate(col("id"))))
        .as("keeper"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers(1L) == 2L,
      s"quality must beat id order: $keepers")
    assert(keepers(10L) == 10L,
      s"exact ties must fall back to the smallest id: $keepers")
  }

  test("tierBoundaries randomized sweep: cut-key tiers match the window " +
       "formula for random group shapes and tier counts 2/4/7/10") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(1127)
    for (tiers <- Seq(2, 4, 7, 10)) {
      // random group sizes incl. groups smaller than the tier count;
      // values with heavy ties so the id tie-break decides boundaries
      val rows = (0 until 4).flatMap { gi =>
        val sz = 1 + rnd.nextInt(60)
        (0 until sz).map(j => (s"g$gi", rnd.nextInt(5).toLong,
          (gi * 1000 + j).toLong))
      }
      val df = rows.toDF("g", "v", "id")
      val ord = Seq(negate(col("v")), col("id"))
      val expected = df
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
        .select(col("g"), col("id"),
          expr(s"((rn - 1) * $tiers) div cnt").cast("int").as("tier"))
      val got = df.join(
          broadcast(graft.ops.AggOps.tierBoundaries(df, "g", ord, tiers)),
          "g")
        .select(col("g"), col("id"),
          graft.ops.AggOps.tierOf(ord, tiers).cast("int").as("tier"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"tiers=$tiers mismatch")
    }
  }

  test("tierBoundaries + tierOf: broadcast cut-key tiers are bit-equal " +
       "to the full-window ((rn-1)*tiers) div cnt formula — ties, " +
       "groups smaller than the tier count, and desc order included") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // skewed groups, heavy value ties (tie-break = unique id), one
    // group smaller than tiers=4 (empty high tiers → null boundaries)
    val rows = (1L to 97L).map(i => ("big", i % 7, i)) ++
      (1L to 11L).map(i => ("mid", i % 2, 100L + i)) ++
      Seq(("tiny", 5L, 200L), ("tiny", 5L, 201L))
    val df = rows.toDF("g", "v", "id")
    val ord = Seq(negate(col("v")), col("id")) // v desc, id asc
    val expected = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
      .select(col("g"), col("id"),
        expr("((rn - 1) * 4) div cnt").cast("int").as("tier"))
    val bounds = graft.ops.AggOps.tierBoundaries(df, "g", ord, 4)
    assert(bounds.count() == 3)
    val got = df.join(broadcast(bounds), "g")
      .select(col("g"), col("id"),
        graft.ops.AggOps.tierOf(ord, 4).cast("int").as("tier"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      s"tier mismatch:\n${got.orderBy("g", "id").collect().mkString("\n")}")
  }
}
