package graft

import org.apache.spark.sql.SparkSession

/** Regression guards on physical plan shape — the properties that make
  * these queries survive a 100× scale-up (SURVEY §4): filters pushed to
  * the parquet scan, projections pruned to the read columns, dimension
  * joins broadcast, custom expressions codegen-compatible.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("scan_parquet pushes the filter into the scan") {
    val p = plan("scan_parquet")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"))
  }

  test("q1_agg prunes columns and does map-side partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double"))
    assert(p.contains("partial_sum")) // map-side combine before the shuffle
  }

  test("join_enrich uses broadcast hash joins (no sort-merge shuffle)") {
    val p = plan("join_enrich")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("join_lookup broadcasts the probe side") {
    val p = plan("join_lookup")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("NER mention join never broadcasts the exploded mention stream — " +
       "the dictionary is the build side in both distribution modes") {
    import org.apache.spark.sql.functions.col
    def planOf(mode: graft.ner.DictionaryNer.Build): String =
      new graft.ner.DictionaryNer(TestFixtures.nodesDf(spark),
          TestFixtures.clustersDf(spark), dictBuild = mode)
        .textToKg2Nodes(
          graft.tables.Tables.documents(spark, dir), "doc_id", "text")
        .queryExecution.executedPlan.toString
    // Catalyst under-estimates explode fan-out; left to stats it chose
    // BuildLeft (broadcast the corpus-scale mention side) on synthetic
    // inputs — SCALECURVE round-6 finding. Guard: no BroadcastExchange
    // subtree may contain the n-gram generator.
    Seq(graft.ner.DictionaryNer.BroadcastDict,
        graft.ner.DictionaryNer.ShuffleHashDict,
        graft.ner.DictionaryNer.Auto).foreach { mode =>
      def indentOf(l: String): Int =
        l.indexWhere(c => !" :+-*(".contains(c)) match {
          case -1 => Int.MaxValue
          case i  => i
        }
      def broadcastSubtreeHas(plan: String): Boolean = {
        val lines = plan.linesIterator.toVector
        lines.indices.exists { i =>
          val at = lines(i).indexOf("BroadcastExchange")
          at >= 0 && lines.drop(i + 1)
            .takeWhile(nl => indentOf(nl) > at)
            .exists(_.contains("ngrams("))
        }
      }
      val p = planOf(mode)
      assert(!broadcastSubtreeHas(p),
        s"mention stream under a BroadcastExchange (mode=$mode):\n$p")
      assert(p.contains("ngrams("), s"sanity: generator present\n$p")
    }
    assert(planOf(graft.ner.DictionaryNer.ShuffleHashDict)
             .contains("ShuffledHashJoin"),
      "ShuffleHashDict must take the shuffle-hash path")
    // Auto on a small in-memory fixture must still broadcast (stats of a
    // LocalRelation are exact and far under the 100 MB cliff)
    assert(planOf(graft.ner.DictionaryNer.Auto).contains("BroadcastHashJoin"),
      "Auto must broadcast a small dictionary")
  }

  test("join_salted shuffles on (key, salt): the hot key is spread " +
       "over saltFactor reducer slots, not broadcast away") {
    val p = plan("join_salted")
    assert(p.contains("ShuffledHashJoin"),
      s"the skew demo must keep the shuffle (broadcast hides it):\n$p")
    assert("hashpartitioning\\(rf#\\d+L?, __salt#\\d+".r.findFirstIn(p)
             .isDefined,
      s"shuffle must partition on (rf, __salt), not rf alone:\n$p")
  }

  test("join_bucketed: the bucketed layout IS the shuffle — the sort-" +
       "merge join reads both bucketed scans with zero exchange on the " +
       "join key") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"),
      s"merge hint must hold (broadcast would hide the layout):\n$p")
    assert(p.contains("Bucketed: true"),
      s"both sides must read as bucketed scans:\n$p")
    assert(!p.contains("hashpartitioning(o_custkey") &&
           !p.contains("hashpartitioning(c_custkey"),
      s"no exchange may partition on the join key:\n$p")
  }

  test("diversity_sample broadcasts the k-row centroid frame; the " +
       "corpus side shuffles only for the per-cell window") {
    val p = plan("diversity_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join may appear in the scoring path:\n$p")
    assert("hashpartitioning\\(cell#\\d+".r.findFirstIn(p).isDefined,
      s"the only corpus shuffle is the per-cell window partitioning:\n$p")
  }

  test("stream_enrich broadcasts the dimension (no shuffle of the " +
       "stream side for the join)") {
    val p = plan("stream_enrich")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("token_pack shuffles once on the stream key — no global sort " +
       "under the window") {
    // the op directly — the registered demo appends a presentation
    // orderBy, which legitimately range-partitions at the very end
    val df = graft.extensions.TextAnalysis.packByTokenBudget(
      graft.tables.Tables.documents(spark, dir), "doc_id", "text",
      graft.extensions.TextAnalysis.langId(
        org.apache.spark.sql.functions.col("text")), 512)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(stream"))
    assert(!p.contains("rangepartitioning"),
      "the pack window must sort per stream partition, not globally")
  }

  test("ann_ivf_pruned lands the probed cells in PartitionFilters — the " +
       "scan skips unprobed cell= directories at file-listing time") {
    val df = SparkEntry.queries("ann_ivf_pruned")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("cell#"),
      s"the lists scan must carry a cell PartitionFilter — plan:\n$p")
    assert(pf.contains(" IN ") || pf.contains("INSET") ||
           pf.contains("in(cell"),
      s"the probed-cell IN-list must be a PartitionFilter (directory " +
        s"pruning), not a post-scan Filter — filters:\n$pf\nplan:\n$p")
    // and the pruned search returns exactly ann_ivf's rows
    val pruned = df.collect().map(_.toSeq).toSet
    val full = SparkEntry.queries("ann_ivf")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(pruned == full, "pruned search must equal ann_ivf")
  }

  test("tfidf corpus size joins as a broadcast one-row frame, tf/df " +
       "aggregations are partial (map-side) first") {
    val p = plan("tfidf_terms")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"))
    assert(p.contains("partial_count"))
  }

  test("partition_prune reads only the matching lang= directory") {
    val df = SparkEntry.queries("partition_prune")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      "the lang predicate must land in PartitionFilters (directory " +
        s"pruning), not a post-scan Filter — plan:\n$p")
    // the pruned scan reads exactly one of the lang=* directories
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator.filter(_.contains("Location")))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("SQL extension functions resolve via GraftExtensions") {
    val base = spark // force shared-session creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // NOTE spark.sql.extensions is a static conf read from the FIRST
    // SparkContext of the JVM; in-process we attach programmatically.
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    val r = s2.sql(
      "SELECT seq_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "minhash_sig(array('ab', 'cd'), 2) AS sig, " +
      "minhash_bands(array('ab', 'cd'), 8, 4) AS bands, " +
      "simhash_bits(array('ab', 'cd'), 16) AS fp, " +
      "ngrams(array('alpha', 'beta', 'gamma'), 2, 3) AS grams")
      .collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getSeq[String](1).length == 2)
    assert(r.getSeq[String](2).length == 4)
    assert(r.getSeq[String](2).head.startsWith("0|"))
    assert(r.getString(3).length == 16 &&
      r.getString(3).forall(c => c == '0' || c == '1'))
    assert(r.getSeq[String](4).toSet ==
      Set("alpha", "beta", "gamma", "alpha beta", "beta gamma"))
    // round-3 registrations: unicode normalization + the Bloom sketch
    // pair (build with bloom_filter_agg, probe with might_contain)
    val r2 = s2.sql(
      "SELECT normalize_text('café', 'NFC') AS nfc, " +
      "might_contain(" +
      "  (SELECT bloom_filter_agg(xxhash64(cast(id AS string)))" +
      "   FROM range(100)), " +
      "  xxhash64(cast(42 AS string))) AS hit")
      .collect().head
    assert(r2.getString(0) == "café")
    assert(r2.getBoolean(1), "present element must hit the bloom filter")
    // round-5 registrations: native tokenizer + stopword counter
    val r3 = s2.sql(
      "SELECT ws_tokens('  the  quick\tfox ') AS toks, " +
      "stop_hits(ws_tokens('the quick fox and the dog'), 'the', 'and') " +
      "  AS hits")
      .collect().head
    assert(r3.getSeq[String](0) == Seq("the", "quick", "fox"))
    assert(r3.getLong(1) == 3L)
  }

  test("driver entry smoke works on a PLAIN session (no custom confs)") {
    // the driver calls SparkEntry.entry with its own vanilla session —
    // entry must not depend on Sessions.local's confs (e.g. nanosAsLong)
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = try SparkSession.builder()
      .master("local[2]").appName("graft-plain")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    assert(SparkEntry.entry(plain).count() > 0)
  }

  test("ensureParallelism adds no Exchange on an already-split input") {
    import org.apache.spark.sql.functions._
    // 8 partitions on a local[2]-style session: already >= parallelism →
    // the conditional repartition must keep the layout (no shuffle before
    // the map-side signature work)
    val wide = spark.range(0, 1000, 1,
        spark.sparkContext.defaultParallelism + 4)
      .select(col("id"), concat(lit("text "), col("id")).as("text"))
    val out = graft.ops.Partitioning.ensureParallelism(wide)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism + 4)
    val p = graft.extensions.TextDedup
      .withShingles(wide, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"conditional repartition added a shuffle:\n$p")
    // and the rescue still fires for a single-split input
    val narrow = spark.range(0, 10, 1, 1)
      .select(col("id"), concat(lit("t"), col("id")).as("text"))
    assert(graft.ops.Partitioning.ensureParallelism(narrow)
      .rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("ensureParallelism leaves non-scan-rooted plans untouched " +
       "(ADVICE: the rdd probe would eagerly execute AQE query stages)") {
    import org.apache.spark.sql.functions._
    val a = spark.range(10).toDF("id")
    val joined = a.join(a.withColumnRenamed("id", "id2"),
                        col("id") === col("id2"))
    // reference equality: the probe path must not even be entered
    assert(graft.ops.Partitioning.ensureParallelism(joined) eq joined)
    val agg = a.groupBy("id").count()
    assert(graft.ops.Partitioning.ensureParallelism(agg) eq agg)
  }

  test("vocab_oov checks OOV with a broadcast anti-join (the exploded " +
       "token stream is never shuffled for the vocab probe)") {
    val p = plan("vocab_oov")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"vocab probe must be a broadcast anti-join:\n$p")
  }

  test("kmeans_assign_framed keeps n rows end to end: the argmin is a " +
       "map-side fold over the per-super member array, never a " +
       "candidate-row grouping (the min(struct) SortAggregate " +
       "regression), and the member join is a 1:1 broadcast at this " +
       "table size") {
    val p = plan("kmeans_assign_framed")
    assert(!p.contains("SortAggregate"),
      s"framed argmin must not sort candidate rows:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the sqrt(k)-row member-array table should broadcast here:\n$p")
    // the THREE-level path keeps the same discipline: two 1:1 array
    // joins (mid + leaf), both broadcastable at this size, argmins as
    // map-side kernel folds — never a candidate-row aggregation
    val p3 = plan("kmeans_assign_framed3")
    assert(!p3.contains("SortAggregate"),
      s"three-level argmins must not sort candidate rows:\n$p3")
    assert(p3.contains("BroadcastHashJoin"),
      s"the mid/leaf array tables should broadcast here:\n$p3")
  }

  test("lloydFramed init has NO single-task stage (VERDICT r17 #2): " +
       "positional cluster ids come from the ids-only two-pass global " +
       "index — no WindowExec, no GlobalLimit/CollectLimit gather of " +
       "the d-vector payload — and the id→cluster mapping matches the " +
       "rank-by-id window it replaced") {
    import spark.implicits._
    val prepped = (0L until 64L).reverse
      .map(i => (i, Array.fill(4)(i.toDouble).toSeq)).toDF("id", "v")
    val init = graft.extensions.Kmeans.framedInitCentroids(prepped, 8)
    val p = init.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"the single-partition window is back:\n$p")
    assert(!p.contains("GlobalLimit") && !p.contains("CollectLimit"),
      s"a global k-row gather is back:\n$p")
    // determinism: cluster = rank of id among the k smallest ids
    val got = init.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).head)).sortBy(_._1)
    assert(got.toSeq == (0 until 8).map(i => (i, i.toDouble)))
  }

  test("semdedup_prune demos assign the corpus ONCE (VERDICT r16 #2): " +
       "the staged (id, v, nrm, cluster, dq) frame is cached and every " +
       "NearestCentroid* kernel lives inside it — the demo's own plan " +
       "reads the cache for the keep-rule distances instead of " +
       "re-assigning (at 100 TB the old second pass was a full extra " +
       "corpus scan + argmin)") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    def hasKernel(e: Expression): Boolean = e.exists {
      case _: graft.functions.NearestCentroid => true
      case _: graft.functions.NearestCentroidIn => true
      case _: graft.functions.NearestCentroids => true
      case _ => false
    }
    Seq("semdedup_prune", "semdedup_prune_framed",
        "semdedup_prune_framed3").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val p = unwrapped(df.queryExecution.executedPlan)
      // InMemoryTableScan is a LEAF — collect never descends into the
      // cached staged plan, so any kernel found here is a re-assignment
      val offenders = p.collect {
        case n if n.expressions.exists(hasKernel) => n.nodeName
      }
      assert(offenders.isEmpty,
        s"$name re-assigns the corpus outside the staged cache: " +
          s"$offenders\n$p")
      assert(p.toString.contains("InMemoryTableScan"),
        s"$name must read the staged cache for keep distances:\n$p")
    }
  }

  test("group_split and embed_quantize stay map-side (zero Exchange)") {
    Seq("group_split", "embed_quantize").foreach { name =>
      // strip the final presentation orderBy: a demo-only range exchange
      val df = SparkEntry.queries(name)(spark, dir)
      val core = df.queryExecution.optimizedPlan match {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
        case other => other
      }
      val physical = org.apache.spark.sql.GraftBridge.ofRows(spark, core)
        .queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"$name must be pure map-side:\n$physical")
    }
  }

  test("bucketed tables join WITHOUT a shuffle (co-located join — the " +
       "100 TB repeated-join mechanism)") {
    import org.apache.spark.sql.functions._
    // pre-bucketing both sides on the join key is how a 100 TB fact ⋈
    // fact join avoids re-shuffling per query: each bucket file pair
    // joins locally. External tables (path option) keep the warehouse
    // out of the repo; bucket metadata lives in the session catalog.
    val tmp = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val facts = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 2)
    val dims = spark.range(0, 100).toDF("k")
      .withColumn("w", col("k") + 1)
    spark.sql("DROP TABLE IF EXISTS bkt_facts")
    spark.sql("DROP TABLE IF EXISTS bkt_dims")
    facts.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$tmp/facts").saveAsTable("bkt_facts")
    dims.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$tmp/dims").saveAsTable("bkt_dims")
    val joined = spark.table("bkt_facts")
      .join(spark.table("bkt_dims").hint("merge"), "k")
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$physical")
    assert(joined.count() == 100)
  }

  test("IVF incremental append is pure map-side: assigning a new batch " +
       "against frozen centroids plans zero Exchange (the nightly-ingest " +
       "scale guarantee: appending never touches or shuffles history)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val batch = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(i * 0.1f + 1f))).toDF("vec_id", "embedding")
    val index = graft.extensions.Ivf.IvfIndex(
      Array(Array.fill(8)(1.0), Array.fill(8)(-1.0)))
    val physical = graft.extensions.Ivf
      .assign(batch, "vec_id", "embedding", index)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"batch assignment must be map-side:\n$physical")
  }

  test("ann_pq corpus side carries only (id, codes) into the join — " +
       "the raw embedding never crosses the ADC scoring join") {
    val df = SparkEntry.queries("ann_pq")(spark, dir)
    val physical = unwrapped(df.queryExecution.executedPlan)
    val p = physical.toString
    // probe side broadcast (5 queries with staged distance tables), not
    // a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ADC join must broadcast the query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the scale property itself: the join's OUTPUT schema must carry
    // codes + distance tables, never the corpus 'embedding' column
    val joinOutputs = physical.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        j.output.map(_.name)
    }
    assert(joinOutputs.nonEmpty, s"no BNLJ node found:\n$p")
    joinOutputs.foreach { cols =>
      assert(!cols.contains("embedding"),
        s"raw embedding crossed the ADC join: $cols")
    }
  }

  // AQE wraps the tree in AdaptiveSparkPlanExec, whose children are not
  // visible to SparkPlan.collect — unwrap to the current physical plan
  private def unwrapped(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  test("span_dedup shuffles hashes only: no span text in any exchange") {
    val df = SparkEntry.queries("span_dedup")(spark, dir)
    val exchanges =
      unwrapped(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }
    assert(exchanges.nonEmpty)
    // every shuffled row is (hash/doc_id/agg buffers) — never 'toks',
    // 'span' or raw 't' text
    exchanges.foreach { cols =>
      assert(!cols.exists(c => c == "toks" || c == "t" || c == "span"),
        s"span text must be dropped before the shuffle, got $cols")
    }
  }

  test("dedup_embed_ivf moves vectors at most once even without " +
       "broadcast: the cell co-location exchange is shared by both " +
       "join sides, and the pair-dedup exchanges carry ids+cosines only") {
    def isVec(c: String) =
      c.startsWith("vec") || c.startsWith("nvec") || c == "embedding"
    // broadcast off = the 100 TB shape, where neither join side fits
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = unwrapped(SparkEntry.queries("dedup_embed_ivf")(spark, dir)
        .queryExecution.executedPlan)
      val vecExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.child.output.map(_.name).exists(isVec) => e
      }
      // the one permitted vector move: co-locating the staged
      // assignment by cell — the shuffle a cell-bucketed lists table
      // amortizes to zero. Physically Spark plans one exchange per
      // join side over the SAME persisted frame; dedup them by
      // identical child output (ReusedExchange collapses them at
      // execution when exchange reuse is enabled).
      val distinctVecMoves =
        vecExchanges.map(_.child.output.map(_.name)).distinct
      assert(distinctVecMoves.size <= 1,
        s"vectors must move at most once (cell co-location), got " +
          s"$distinctVecMoves")
      // everything after the join shuffles ids and cosines only
      val postJoin = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.child.output.map(_.name).exists(isVec) =>
          e.child.output.map(_.name)
      }
      assert(postJoin.nonEmpty)
      // (id_a, id_b) + the first(cos) agg buffer — fixed-width scalar
      // rows, never a vector column
      postJoin.foreach(cols => assert(
        cols.length <= 4 && cols.forall(c => !isVec(c)),
        s"pair-dedup exchanges must carry bounded scalar rows only, " +
          s"got $cols"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("kmeans_assign is map-side: the only exchange is the output " +
       "ordering (range partitioning), never the vectors") {
    val plan = unwrapped(SparkEntry.queries("kmeans_assign")(spark, dir)
      .queryExecution.executedPlan)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"assignment must be map-side, got ${exchanges.size} exchanges")
    exchanges.foreach { e =>
      assert(e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
        s"the one exchange must be the demo's orderBy, got " +
          s"${e.outputPartitioning}")
      assert(!e.child.output.map(_.name).contains("embedding"),
        "the ordering exchange must carry (id, cluster, dq), not vectors")
    }
  }

  test("Kmeans.nearDupPairs (semdedup candidate join) moves vectors at " +
       "most once even without broadcast: the cluster co-location " +
       "exchange is shared by both join sides, post-join exchanges " +
       "carry ids+cosines only") {
    def isVec(c: String) = c == "v" || c == "embedding"
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = graft.tables.Tables.embeddings(spark, dir)
      val m = graft.extensions.Kmeans.lloyd(e, "vec_id", "embedding",
        k = 4, rounds = 1)
      val plan = unwrapped(graft.extensions.Kmeans.nearDupPairs(e,
          "vec_id", "embedding", graft.extensions.Kmeans.Assigner.Exact(m),
          threshold = 0.45)
        .queryExecution.executedPlan)
      val vecExchanges = plan.collect {
        case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if x.child.output.map(_.name).exists(isVec) => x
      }
      // one permitted vector move: co-locating the staged assignment by
      // cluster; both join sides plan the SAME exchange subtree over the
      // persisted frame (ReusedExchange collapses them at execution)
      val distinctVecMoves =
        vecExchanges.map(_.child.output.map(_.name)).distinct
      assert(distinctVecMoves.size <= 1,
        s"vectors must move at most once, got $distinctVecMoves")
      val postJoin = plan.collect {
        case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !x.child.output.map(_.name).exists(isVec) =>
          x.child.output.map(_.name)
      }
      postJoin.foreach(cols => assert(cols.forall(c => !isVec(c)),
        s"post-join exchanges must never carry vectors, got $cols"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("walk_pairs_bucketed: the walks table bucketed on the FULL " +
       "(start, walk) join key makes the skip-gram self-join " +
       "shuffle-free even without broadcast (subset-key bucketing " +
       "fails requireAllClusterKeysForCoPartition and is re-shuffled)") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = unwrapped(
        SparkEntry.queries("walk_pairs_bucketed")(spark, dir)
          .queryExecution.executedPlan)
      assert(plan.toString.contains("Bucketed: true"),
        s"both self-join sides must read as bucketed scans:\n$plan")
      val smjs = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smjs.nonEmpty, s"self-join must sort-merge:\n$plan")
      smjs.foreach { j =>
        val shuffles = j.collect {
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"the self-join over the bucketed walks table must plan ZERO " +
            s"exchanges (the bucketed write was the shuffle):\n$j")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("scd2_history plans ONE shuffle for both the lag and lead windows") {
    val df = SparkEntry.queries("scd2_history")(spark, dir)
    val core = df.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
      case other => other
    }
    val physical = unwrapped(org.apache.spark.sql.GraftBridge
      .ofRows(spark, core).queryExecution.executedPlan)
    val nShuffles = physical.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(nShuffles == 1,
      s"lag+lead share (user_id, t_us, event_id) — expected exactly one " +
        s"exchange, got $nShuffles:\n$physical")
  }

  test("scalar hot paths stay inside WholeStageCodegen — every Project " +
       "(incl. the custom MinHashSig/SimHashBits/SeqDot expressions) " +
       "compiles, none falls back to interpreted eval") {
    Seq("lang_id", "quality_score", "token_stats", "dedup_minhash_sig",
        "dedup_simhash", "embed_norm", "doc_fingerprint").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // AQE collapses codegen stages at materialization — execute first
      // or the inspected plan never shows WholeStageCodegen nodes
      df.collect()
      val physical = unwrapped(df.queryExecution.executedPlan)
      val naked = physical.collect {
        case p: org.apache.spark.sql.execution.ProjectExec
          // a ProjectExec whose direct parent chain lacks codegen shows
          // up here; inputRDDs-based check: codegen'd projects are
          // wrapped, so they appear as WholeStageCodegenExec children
          if !physical.exists {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
              w.collect { case q if q eq p => q }.nonEmpty
            case _ => false
          } => p
      }
      assert(naked.isEmpty,
        s"$name has Project(s) outside WholeStageCodegen:\n$physical")
    }
  }

  test("drugbank_e2e materializes the Stage1 boundary exactly once — " +
       "the composite plan is bounded (r7 verdict: 1,126 Exchanges " +
       "from the un-persisted four-way Stage1 reference)") {
    val df = SparkEntry.queries("drugbank_e2e")(spark, dir)
    // walk the physical tree INCLUDING cached subplans (the demo persists
    // s2, and the stage boundaries persist recs/stage1 — each shows up as
    // an InMemoryRelation whose cachedPlan the plain collect won't enter);
    // distinct relations counted once, mirroring one materialization each
    def allPlans(p: org.apache.spark.sql.execution.SparkPlan,
                 seen: collection.mutable.Set[Long])
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val here = unwrapped(p)
      here +: here.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if seen.add(System.identityHashCode(s.relation).toLong) =>
            allPlans(s.relation.cachedPlan, seen)
      }.flatten
    }
    val plans = allPlans(df.queryExecution.executedPlan,
                         collection.mutable.Set.empty)
    // the stage boundary surfaces as ExistingRDD leaves (the persisted
    // frame's RDD wrapped as a fresh scan); the four stage-1 references
    // must all be leaf scans, not subtree re-expansions
    val rddScans = plans.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.RDDScanExec => s
    })
    assert(rddScans.nonEmpty,
      "Stage2 must read Stage1 through the cut stage boundary " +
        s"(no ExistingRDD scan found)")
    val nExchanges = plans.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        => e
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
        => b
    }).size
    // 1 (the demo's final sort) now that Stage1.run and Stage2.run
    // return materialized leaves — 67 before that, 1,126 before the
    // boundary cut; 100 still fails loudly on any re-introduced subtree
    // duplication
    assert(nExchanges < 100,
      s"composite plan must stay bounded, got $nExchanges Exchanges")
  }

  test("pipeline_rank_mix / pipeline_hits_gate / pca_curriculum tier " +
       "map-side: every Window in the plan sits under a " +
       "BroadcastExchange (the cut-key side) — no full per-group " +
       "ranking window on the bulk path") {
   Seq("pipeline_rank_mix", "pipeline_hits_gate",
       "pca_curriculum", "pipeline_rank_mix_sampled",
       "mixture_quality").foreach { name =>
    val df = SparkEntry.queries(name)(spark, dir)
    val plan = unwrapped(df.queryExecution.executedPlan)
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty,
      "sanity: the exact cut-key contraction ranks the narrow projection")
    // a Window anywhere NOT inside a broadcast subtree would mean the
    // bulk (documents ⋈ ranks) rows sort in one reducer per language —
    // the r11 scale-killer this demo replaced
    val outsideBroadcast = {
      def walk(p: org.apache.spark.sql.execution.SparkPlan,
               underBc: Boolean): Seq[String] = {
        val bc = underBc || p.isInstanceOf[
          org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]
        val here =
          if (!bc && p.isInstanceOf[
              org.apache.spark.sql.execution.window.WindowExec])
            Seq(p.simpleStringWithNodeId())
          else Seq.empty
        here ++ p.children.flatMap(walk(_, bc))
      }
      walk(plan, underBc = false)
    }
    assert(outsideBroadcast.isEmpty,
      s"$name: Window outside the broadcast cut-key subtree:\n$plan")
   }
  }

  test("pipeline_rank_mix_sampled / pipeline_hits_gate / " +
       "pca_curriculum: every Window's input subtree contains the md5 " +
       "hash-sample Filter — no window in the tiering family sees more " +
       "than the bounded sample, no matter the group size " +
       "(hits_gate's group is the whole corpus)") {
   Seq("pipeline_rank_mix_sampled", "pipeline_hits_gate",
       "pca_curriculum", "mixture_quality").foreach { name =>
    val df = SparkEntry.queries(name)(spark, dir)
    val plan = unwrapped(df.queryExecution.executedPlan)
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"$name: the sampled contraction windows")
    windows.foreach { w =>
      // Catalyst pushes the sample predicate into the cnt-broadcast
      // join's condition (applied map-side during the probe — even
      // earlier than a standalone Filter); accept either node shape
      val samplePredicates = w.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("md5") => f: Any
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.condition.exists(_.toString.contains("md5")) => j: Any
      }
      assert(samplePredicates.nonEmpty,
        s"$name: Window without the hash-sample predicate below it — " +
          s"its input is unbounded at scale:\n$w")
    }
   }
  }

  test("tiering composites materialize their corpus intermediate as a " +
       "parquet artifact, not an in-memory localCheckpoint pin " +
       "(VERDICT r14 #2): no RDD scan anywhere in the plan") {
   Seq("mixture_quality", "pca_curriculum", "pipeline_rank_mix",
       "pipeline_rank_mix_sampled", "pipeline_hits_gate").foreach { name =>
    val df = SparkEntry.queries(name)(spark, dir)
    val plan = unwrapped(df.queryExecution.executedPlan)
    // localCheckpoint(true) pins the whole intermediate in executor
    // storage memory and surfaces as an RDDScanExec ("Scan ExistingRDD")
    // — the Fixtures.frame parquet path must leave only file scans
    val rddScans = plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.isEmpty,
      s"$name: in-memory RDD scan (localCheckpoint pin?) in plan:\n$plan")
   }
  }

  test("PageRank round reuses the cached edge layout (VERDICT r19 #6): " +
       "with broadcast off, the only exchange on src is the RANK side — " +
       "the static linked frame joins via its persisted hash-by-src " +
       "partitioning, so per round exactly one new exchange moves " +
       "data-sized rows (the groupBy(dst) inflow sum)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val G = graft.extensions.Graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val (verts, linked) = G.prep(e, "src", "dst", 4, 85L, 100L)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ranks = verts.select(col("id"), lit(1000L).as("rank_fp"))
        .localCheckpoint(true)
      val vertsT = verts.select(col("id"), lit(50L).as("tp"))
      val round = G.pageRankRound(vertsT, linked, ranks, 85L, 100L)
      // count REAL exchange operators (InMemoryRelation's printed cached
      // plan contains prep's own exchanges as text — strings overcount)
      val plan = unwrapped(round.queryExecution.executedPlan)
      val srcExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("src") => e
      }
      assert(srcExchanges.size == 1,
        s"expected exactly ONE src exchange (the rank vector; the " +
          s"cached linked frame must NOT re-exchange), got " +
          s"${srcExchanges.size}:\n$plan")
      assert(plan.toString.contains("InMemoryTableScan"),
        s"sanity: the cached linked frame is in the round plan:\n$plan")
    } finally {
      Seq(verts, linked).foreach(_.unpersist(false))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("seeded PageRank round merges on the s-row seed frame by FULL " +
       "OUTER join — no |V|-row frame in the round (VERDICT r19 #7; " +
       "the support-only contract r19 introduced must not silently " +
       "regress to the per-round |V|-row vertsT left join)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val G = graft.extensions.Graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val (verts, linked) = G.prep(e, "src", "dst", 4, 85L, 100L)
    try {
      val seedsT = Seq(1L).toDF("id").select(col("id"), lit(50L).as("tp"))
        .localCheckpoint(true)
      val seedRanks = seedsT.select(col("id"), lit(1000L).as("rank_fp"))
        .localCheckpoint(true)
      val round = G.seededRound(seedsT, linked, seedRanks, 85L, 100L)
      val p = round.queryExecution.executedPlan.toString
      assert(p.contains("FullOuter"),
        s"the per-round merge must be the full-outer support join:\n$p")
      // the round's leaves are: the cached linked frame and the two
      // s-row checkpointed seed frames — the |V|-row verts frame (a
      // SECOND InMemoryRelation) must not appear anywhere in the round
      val cachedLeaves = round.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.size
      assert(cachedLeaves == 1,
        s"round must read exactly one cached frame (linked), " +
          s"got $cachedLeaves:\n${round.queryExecution.optimizedPlan}")
      // and the production seeded engine keeps its bit-exact contract
      // on this fixture (support-only == full-vector recurrence)
      val got = G.personalizedPageRank(e, "src", "dst",
        Seq(1L).toDF("seed"), "seed", iterations = 2)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 3 && got.forall(_._2 >= 0L))
    } finally {
      Seq(verts, linked).foreach(_.unpersist(false))
    }
  }

  test("SeqDot matches the interpreted sequential fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(0.1f, 0.2f, 0.3f), Array(0.4f, 0.5f, 0.6f)))
      .toDF("a", "b")
    val native = df.select(
      graft.functions.VectorExpressions.seqDot(col("a"), col("b")))
      .collect().head.getDouble(0)
    val interpreted = df.select(
      graft.extensions.Similarity.seqSum(zip_with(
        col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => x * y)))
      .collect().head.getDouble(0)
    assert(native == interpreted) // bit-identical, same fold order
  }
}
