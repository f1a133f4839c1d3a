package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extensions.Kmeans.Assigner

/** Scale-curve artifact generator: runs six scale-critical pipeline
  * shapes (MinHash/LSH near-dup, cross-doc span dedup, IVF-PQ ANN,
  * dictionary NER, synonymizer name lookup, connected components) on
  * synthetic corpora at 5k → 800k rows and writes SCALECURVE.md with
  * rows-in / candidate-volume / wall-time per point.
  *
  * Purpose: the sf0.1 registry proves CORRECTNESS; this proves the
  * SCALE SHAPE — the band join must stay non-quadratic (candidate
  * volume ~ planted duplicates, not ~ n²) and runtime must grow
  * near-linearly as the corpus grows 40×. The generators are the
  * ScaleStressSpec fixtures (hash-derived pseudo-random tokens and
  * vectors — fully distributed, no driver-side data generation, so the
  * same program would drive a 1000-executor run unchanged).
  *
  * Methodology: one full pass at the smallest point warms JIT/codegen;
  * every (pipeline, size) then records min-of-2 timed runs with the
  * cache cleared before each so a persisted frame from run 1 can't
  * flatter run 2 (the registry bench keeps caches hot on purpose; a
  * scale curve must not).
  *
  * Usage: tools/run.sh graft.ScaleCurve [outFile]
  *   SPARK_GRAFT_SCALE_POINTS=5000,50000,200000 (override points)
  */
object ScaleCurve {

  /** ScaleStressSpec's corpus: 40 hash-derived tokens per doc from a
    * ~100k vocabulary; the last 5% of ids are near-dup copies of the
    * first 5% (same 40 tokens + one extra → jaccard ≈ 0.93).
    */
  def nearDupCorpus(spark: SparkSession, n: Long): DataFrame = {
    val nCopies = n / 20
    val nBase = n - nCopies
    spark.range(0, n).toDF("doc_id")
      .withColumn("k",
        when(col("doc_id") >= nBase, col("doc_id") - nBase)
          .otherwise(col("doc_id")))
      .withColumn("text",
        concat_ws(" ",
          transform(sequence(lit(0L), lit(39L)),
            j => concat(lit("w"),
              pmod(hash(col("k") * 997L + j * 131L), lit(99991))))))
      .withColumn("text",
        when(col("doc_id") >= nBase, concat(col("text"), lit(" extra")))
          .otherwise(col("text")))
      .select("doc_id", "text")
  }

  /** §8 ingest history: n all-distinct docs (40 hash-derived tokens
    * from k = doc_id, same recipe as [[nearDupCorpus]]).
    */
  def ingestHist(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).toDF("doc_id")
      .withColumn("text", ingestTokens(col("doc_id")))
      .select("doc_id", "text")

  /** §8 new batch: b docs with ids past the history; EVEN ids near-dup
    * history doc (id/2 mod dupMod) — dupMod = the smallest history size
    * swept, so the planted truth is identical at every corpus age — and
    * ODD ids draw from a disjoint k-space (novel).
    */
  def ingestBatch(spark: SparkSession, histN: Long, b: Long,
                  dupMod: Long): DataFrame =
    // k must stay LONG through both branches: `/` is double division in
    // the Column DSL, and hash(double) ≠ hash(long) — the planted dup
    // would silently never match the history recipe (caught when the §8
    // flagged column read 0).
    spark.range(histN, histN + b).toDF("doc_id")
      .withColumn("k",
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          pmod(floor(col("doc_id") / 2L).cast("long"), lit(dupMod)))
        .otherwise(col("doc_id") + 1000000000L))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          concat(ingestTokens(col("k")), lit(" extra")))
        .otherwise(ingestTokens(col("k"))))
      .select("doc_id", "text")

  private def ingestTokens(k: org.apache.spark.sql.Column) =
    concat_ws(" ",
      transform(sequence(lit(0L), lit(39L)),
        j => concat(lit("w"),
          pmod(hash(k * 997L + j * 131L), lit(99991)))))

  /** License-header corpus: a shared 10-token boilerplate prefix on
    * EVERY doc (the worst-case span-population key: one hash held by
    * the whole corpus) + 30 unique hash-derived tokens.
    */
  def spanCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).toDF("doc_id")
      .withColumn("own",
        concat_ws(" ",
          transform(sequence(lit(0L), lit(29L)),
            j => concat(lit("w"),
              pmod(hash(col("doc_id") * 997L + j * 131L), lit(99991))))))
      .withColumn("text",
        concat(lit((1 to 10).map(i => s"hdr$i").mkString(" ")),
               lit(" "), col("own")))
      .select("doc_id", "text")

  /** Hash-derived embeddings in [-1, 1]^32, generated on executors.
    * The last 100 ids are planted twins of ids 0..99 (same direction,
    * ×1.0005) so ANN recall is measurable at every corpus size.
    */
  def vectorCorpus(spark: SparkSession, n: Long, d: Int = 32): DataFrame = {
    val twinBase = n - 100
    spark.range(0, n).toDF("vec_id")
      .withColumn("k",
        when(col("vec_id") >= twinBase, col("vec_id") - twinBase)
          .otherwise(col("vec_id")))
      .withColumn("s",
        when(col("vec_id") >= twinBase, lit(1.0005)).otherwise(lit(1.0)))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(d - 1)),
          j => (((pmod(hash(col("k") * 31L + j.cast("long") * 7L),
                       lit(2001)) - lit(1000)).cast("double") / lit(1000.0))
            * col("s")).cast("float")))
      .select("vec_id", "embedding")
  }

  /** Docs for the dictionary-NER path: ~20 filler tokens + exactly one
    * planted dictionary term per doc (the last token), so the expected
    * match count is exactly n and every miss/false-positive is visible.
    */
  def nerCorpus(spark: SparkSession, n: Long, dictSize: Int): DataFrame =
    spark.range(0, n).toDF("doc_id")
      .withColumn("text",
        concat(
          concat_ws(" ",
            transform(sequence(lit(0L), lit(19L)),
              j => concat(lit("w"),
                pmod(hash(col("doc_id") * 613L + j * 31L), lit(99991))))),
          lit(" "), concat(lit("term"), pmod(col("doc_id"), lit(dictSize)))))

  /** Synthetic synonymizer tables sized like a real dictionary: one
    * node + one cluster per term, generated ON the executors.
    */
  def nerDictionary(spark: SparkSession,
                    dictSize: Int): (DataFrame, DataFrame) = {
    val nodes = spark.range(0, dictSize).select(
      concat(lit("N:"), col("id")).as("id"),
      concat(lit("N:"), col("id")).as("id_simplified"),
      concat(lit("Term"), col("id")).as("name"),
      concat(lit("term"), col("id")).as("name_simplified"),
      lit("SmallMolecule").as("category"),
      concat(lit("T:"), col("id")).as("cluster_id"),
      lit("ChemicalEntity").as("major_branch"),
      concat(lit("Term"), col("id")).as("name_sri"),
      lit("SmallMolecule").as("category_sri"),
      lit(null).cast("string").as("name_kg2pre"),
      lit(null).cast("string").as("category_kg2pre"))
    val clusters = spark.range(0, dictSize).select(
      concat(lit("T:"), col("id")).as("cluster_id"),
      concat(lit("Term"), col("id")).as("name"),
      lit("SmallMolecule").as("category"),
      array(concat(lit("N:"), col("id"))).as("member_ids"),
      array().cast("array<string>").as("intra_cluster_edge_ids"))
    (nodes, clusters)
  }

  /** Synonymizer tables at KG2-ish shape: 1M nodes over 500k two-member
    * clusters; names repeat with period `nameMod` so 400k of the 600k
    * name keys resolve through the argmax-across-clusters path (two
    * competing single-count clusters → deterministic tie-break) and the
    * rest through the single-cluster path.
    */
  def synTables(spark: SparkSession, nNodes: Long,
                nameMod: Long): (DataFrame, DataFrame, DataFrame) = {
    val nodes = spark.range(0, nNodes).select(
      concat(lit("N:"), col("id")).as("id"),
      concat(lit("N:"), col("id")).as("id_simplified"),
      concat(lit("Name"), pmod(col("id"), lit(nameMod))).as("name"),
      concat(lit("name"), pmod(col("id"), lit(nameMod)))
        .as("name_simplified"),
      lit("SmallMolecule").as("category"),
      concat(lit("C:"), expr("id div 2")).as("cluster_id"),
      lit("ChemicalEntity").as("major_branch"),
      lit(null).cast("string").as("name_sri"),
      lit(null).cast("string").as("category_sri"),
      lit(null).cast("string").as("name_kg2pre"),
      lit(null).cast("string").as("category_kg2pre"))
    val clusters = spark.range(0, nNodes / 2).select(
      concat(lit("C:"), col("id")).as("cluster_id"),
      concat(lit("Pref"), col("id")).as("name"),
      lit("SmallMolecule").as("category"),
      array(concat(lit("N:"), col("id") * 2),
            concat(lit("N:"), col("id") * 2 + 1)).as("member_ids"),
      array().cast("array<string>").as("intra_cluster_edge_ids"))
    val edges = spark.range(0, 0).select(
      lit("").as("id"), lit("").as("subject"), lit("").as("predicate"),
      lit("").as("object"), lit("").as("upstream_resource_id"),
      lit("").as("primary_knowledge_source"))
    (nodes, clusters, edges)
  }

  /** Distributed DrugBank fixture: n raw drug records (the drug-frame
    * shape `DrugBank.records` parses) + the matching KG. Planted truths
    * (exact arithmetic, n divisible by 8):
    *  - description = "drug {d} interacts with term{d mod T}": the NER
    *    mech pass matches the drug's own name (cluster CHEM:d, category
    *    Drug) and one shared term (TC:{d mod T}, Protein) → 2n entries;
    *  - even d: indication "this causes malady{d mod D} badly" →
    *    DIS:{d mod D} (Disease) in the indication map (n/2) AND in the
    *    mech map (indication is a MOSTLY_TEXT_FIELD) → +n/2;
    *  - d mod 4 == 0: target NAME "prot name" → stage-2 names branch →
    *    PROTN:0 → +n/4;
    *  - d mod 8 == 0: bare target id "P12345" → UniProt detector →
    *    member UNIPROTKB:P12345 → PROTU:0 → +n/8.
    */
  def drugCorpus(spark: SparkSession, n: Long, T: Long, D: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val schema = graft.drugbank.DrugBank.drugSchema
    def bio(field: String, cond: org.apache.spark.sql.Column,
            id: org.apache.spark.sql.Column,
            name: org.apache.spark.sql.Column) = {
      val singular = field.dropRight(1)
      when(cond, struct(array(struct(id.as("id"), name.as("name"),
        lit(null).as("polypeptide"))).as(singular)))
        .cast(schema(field).dataType).as(field)
    }
    val d = col("doc_id")
    val nullStr = lit(null).cast("string")
    val drugs = spark.range(0, n).toDF("doc_id").select(
      array(struct(
        concat(lit("DB"), lpad(d.cast("string"), 7, "0")).as("_VALUE"),
        lit("true").as("_primary"))).as("drugbank-id"),
      concat(lit("Drug "), d).as("name"),
      concat(lit("drug "), d, lit(" interacts with term"), pmod(d, lit(T)))
        .as("description"),
      when(d % 2 === 0,
        concat(lit("this causes malady"), pmod(d, lit(D)), lit(" badly")))
        .as("indication"),
      nullStr.as("pharmacodynamics"),
      nullStr.as("mechanism-of-action"),
      nullStr.as("metabolism"),
      nullStr.as("protein-binding"),
      bio("targets", d % 4 === 0,
          when(d % 8 === 0, lit("P12345")), lit("prot name")),
      bio("enzymes", lit(false), nullStr, nullStr),
      bio("carriers", lit(false), nullStr, nullStr),
      bio("transporters", lit(false), nullStr, nullStr),
      lit(null).cast(schema("pathways").dataType).as("pathways"))
    val drugNodes = spark.range(0, n).select(
      concat(lit("DRUGBANK:DB"), lpad(col("id").cast("string"), 7, "0"))
        .as("id"),
      concat(lit("DRUGBANK:DB"), lpad(col("id").cast("string"), 7, "0"))
        .as("id_simplified"),
      concat(lit("Drug "), col("id")).as("name"),
      concat(lit("drug"), col("id")).as("name_simplified"),
      lit("Drug").as("category"),
      concat(lit("CHEM:"), col("id")).as("cluster_id"))
    val termNodes = spark.range(0, T).select(
      concat(lit("T:"), col("id")).as("id"),
      concat(lit("T:"), col("id")).as("id_simplified"),
      concat(lit("term"), col("id")).as("name"),
      concat(lit("term"), col("id")).as("name_simplified"),
      lit("Protein").as("category"),
      concat(lit("TC:"), col("id")).as("cluster_id"))
    val diseaseNodes = spark.range(0, D).select(
      concat(lit("M:"), col("id")).as("id"),
      concat(lit("M:"), col("id")).as("id_simplified"),
      concat(lit("malady"), col("id")).as("name"),
      concat(lit("malady"), col("id")).as("name_simplified"),
      lit("Disease").as("category"),
      concat(lit("DIS:"), col("id")).as("cluster_id"))
    val fixedNodes = spark.range(0, 1).select(
      lit("PN:0").as("id"), lit("PN:0").as("id_simplified"),
      lit("prot name").as("name"), lit("protname").as("name_simplified"),
      lit("Protein").as("category"), lit("PROTN:0").as("cluster_id"))
      .unionByName(spark.range(0, 1).select(
        lit("UniProtKB:P12345").as("id"),
        lit("UNIPROTKB:P12345").as("id_simplified"),
        lit("TargetProt").as("name"),
        lit("targetprot").as("name_simplified"),
        lit("Protein").as("category"), lit("PROTU:0").as("cluster_id")))
    val nodes = drugNodes.unionByName(termNodes)
      .unionByName(diseaseNodes).unionByName(fixedNodes)
    val clusters = spark.range(0, n).select(
        concat(lit("CHEM:"), col("id")).as("cluster_id"),
        concat(lit("Drug "), col("id")).as("name"),
        lit("Drug").as("category"))
      .unionByName(spark.range(0, T).select(
        concat(lit("TC:"), col("id")).as("cluster_id"),
        concat(lit("Term "), col("id")).as("name"),
        lit("Protein").as("category")))
      .unionByName(spark.range(0, D).select(
        concat(lit("DIS:"), col("id")).as("cluster_id"),
        concat(lit("Malady "), col("id")).as("name"),
        lit("Disease").as("category")))
      .unionByName(spark.range(0, 1).select(
        lit("PROTN:0").as("cluster_id"), lit("ProtName").as("name"),
        lit("Protein").as("category")))
      .unionByName(spark.range(0, 1).select(
        lit("PROTU:0").as("cluster_id"), lit("TargetProt").as("name"),
        lit("Protein").as("category")))
    (drugs, nodes, clusters)
  }

  private def timeIt(spark: SparkSession)(action: => Long): (Double, Long) = {
    var rows = 0L
    val samples = (1 to 2).map { _ =>
      // each timed run starts cold: a frame persisted inside run 1
      // must not turn run 2 into a cache read
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      rows = action
      (System.nanoTime() - t0) / 1e9
    }
    (samples.min, rows)
  }

  final case class Point(n: Long, metrics: Seq[(String, String)])

  /** Section progress marker (stderr): lets a crashed long run — e.g.
    * the r18 ENOSPC two-thirds in — be attributed to a section from
    * the log instead of guessed from stage numbers. */
  def mark(s: String): Unit =
    System.err.println(s"[scalecurve] +${System.nanoTime() / 1000000000L}s $s")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/SCALECURVE.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("graft-scalecurve", cpus)
    val points = sys.env.get("SPARK_GRAFT_SCALE_POINTS")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(5000L, 50000L, 200000L))

    import graft.extensions.{Ivf, Pq, TextDedup}

    // ---- warm-up: full smallest-point pass, untimed (JIT + codegen) --
    locally {
      val n = points.min
      TextDedup.jaccardVerified(nearDupCorpus(spark, n),
        "doc_id", "text", 0.5).count()
      TextDedup.spanStats(spanCorpus(spark, n), "doc_id", "text", w = 8)
        .agg(sum("n_spans")).count()
      val vecs = vectorCorpus(spark, n)
      val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", 32)
      val pq = Pq.trainDeterministic(vecs, "vec_id", "embedding",
        m = 8, nCodes = 256)
      Pq.searchIvfPq(vecs, vecs.filter(col("vec_id") < 100L),
        "vec_id", "embedding", ivf, pq, nProbe = 8, topK = 10).count()
      val (nn, cc) = nerDictionary(spark, 10000)
      new graft.ner.DictionaryNer(nn, cc)
        .textToKg2Nodes(nerCorpus(spark, n, 10000), "doc_id", "text")
        .count()
      val (sn, sc, se) = synTables(spark, 100000L, 60000L)
      new graft.synonymizer.Synonymizer(sn, sc, se)
        .canonicalCuriesByName(spark.range(0, n)
          .select(concat(lit("Name"), pmod(col("id"), lit(60000L)))
            .as("input")))
        .count()
      spark.catalog.clearCache()
    }

    // ---- 1. MinHash/LSH near-dup (dedup_jaccard shape) ---------------
    val jaccardPts = points.map { n =>
      val docs = nearDupCorpus(spark, n)
      val nPlanted = n / 20
      val nCands = TextDedup.minhashCandidates(docs, "doc_id", "text").count()
      spark.catalog.clearCache()
      val (sec, nPairs) = timeIt(spark) {
        TextDedup.jaccardVerified(docs, "doc_id", "text", 0.5).count()
      }
      val nBase = n - nPlanted
      val planted = TextDedup.jaccardVerified(docs, "doc_id", "text", 0.5)
        .filter(col("id_b") - col("id_a") === nBase).count()
      spark.catalog.clearCache()
      Point(n, Seq(
        "docs" -> n.toString,
        "planted pairs" -> nPlanted.toString,
        "LSH candidates" -> nCands.toString,
        "cands/doc" -> f"${nCands.toDouble / n}%.3f",
        "verified pairs" -> nPairs.toString,
        "planted recall" -> f"${planted.toDouble / nPlanted}%.4f",
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 2. Cross-doc span dedup (span_dedup shape) -------------------
    val spanPts = points.map { n =>
      val docs = spanCorpus(spark, n)
      var totals: (Long, Long) = (0L, 0L)
      val (sec, _) = timeIt(spark) {
        val r = TextDedup.spanStats(docs, "doc_id", "text", w = 8)
          .agg(sum("n_spans").as("s"), sum("n_dup_spans").as("d"))
          .collect().head
        totals = (r.getLong(0), r.getLong(1))
        1L
      }
      Point(n, Seq(
        "docs" -> n.toString,
        "windows" -> totals._1.toString,
        "windows/doc" -> f"${totals._1.toDouble / n}%.1f",
        "dup windows" -> totals._2.toString,
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 3. IVF-PQ ANN search (ann_ivfpq shape) -----------------------
    val annPts = points.map { n =>
      val vecs = vectorCorpus(spark, n)
      val kCells = math.max(16, (math.sqrt(n.toDouble) / 2).toInt)
      val nProbe = 8
      val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", kCells)
      val pq = Pq.trainDeterministic(vecs, "vec_id", "embedding",
        m = 8, nCodes = 256)
      val queries = vecs.filter(col("vec_id") < 100L)
      val (sec, _) = timeIt(spark) {
        Pq.searchIvfPq(vecs, queries, "vec_id", "embedding", ivf, pq,
          nProbe = nProbe, topK = 10).count()
      }
      // planted-twin recall: query q's true nearest neighbor is its
      // ×1.0005 copy at id (n-100)+q — it should surface at rank 1
      val twinHits = Pq.searchIvfPq(vecs, queries, "vec_id", "embedding",
          ivf, pq, nProbe = nProbe, topK = 10)
        .filter(col("rank") === 1 &&
                col("neighbor_id") === col("query_id") + (n - 100))
        .count()
      spark.catalog.clearCache()
      Point(n, Seq(
        "vectors" -> n.toString,
        "cells" -> kCells.toString,
        "probed frac" -> f"${nProbe.toDouble / kCells}%.3f",
        "twin recall@1" -> f"${twinHits / 100.0}%.2f",
        "wall 100q (s)" -> f"$sec%.2f"))
    }

    // ---- 3b. ANN recall ladder: nProbe vs brute-force truth ----------
    val recallRows = {
      val n = math.min(50000L, points.max)
      val vecs = vectorCorpus(spark, n)
      val queries = vecs.filter(col("vec_id") < 100L)
      val kCells = math.max(16, (math.sqrt(n.toDouble) / 2).toInt)
      val ivf = Ivf.trainDeterministic(vecs, "vec_id", "embedding", kCells)
      val pq = Pq.trainDeterministic(vecs, "vec_id", "embedding",
        m = 8, nCodes = 256)
      val exact = graft.extensions.Similarity
        .bruteForceTopK(vecs, queries, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exact.count()
      def recall(df: org.apache.spark.sql.DataFrame): Double =
        df.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id")).count() / 1000.0
      val rows = Seq(1, 2, 4, 8, 16).map { nProbe =>
        val rIvf = recall(Ivf.search(vecs, queries, "vec_id", "embedding",
          ivf, nProbe = nProbe, topK = 10))
        val rPq = recall(Pq.searchIvfPq(vecs, queries, "vec_id",
          "embedding", ivf, pq, nProbe = nProbe, topK = 10))
        Point(nProbe.toLong, Seq(
          "nProbe" -> nProbe.toString,
          "probed frac" -> f"${nProbe.toDouble / kCells}%.3f",
          "IVF recall@10" -> f"$rIvf%.3f",
          "IVF-PQ recall@10" -> f"$rPq%.3f"))
      }
      spark.catalog.clearCache()
      (n, kCells, rows)
    }

    // ---- 4. Dictionary NER (the reference's flagship path) -----------
    val nerPts = points.map { n =>
      val dictSize = 10000
      val docs = nerCorpus(spark, n, dictSize)
      val (nodes, clusters) = nerDictionary(spark, dictSize)
      val ner = new graft.ner.DictionaryNer(nodes, clusters)
      val nMentions = graft.ner.DictionaryNer
        .mentions(ner.sentences(docs, "doc_id", "text")).count()
      spark.catalog.clearCache()
      var matches = 0L
      val (sec, _) = timeIt(spark) {
        matches = ner.textToKg2Nodes(docs, "doc_id", "text").count()
        matches
      }
      Point(n, Seq(
        "docs" -> n.toString,
        "dict terms" -> dictSize.toString,
        "candidate mentions" -> nMentions.toString,
        "matches" -> matches.toString,
        "match rate" -> f"${matches.toDouble / n}%.3f",
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 4b. Dictionary NER, SHUFFLE-HASH dictionary (real-KG2 path) -
    val nerShufflePts = points.map { n =>
      val dictSize = 1000000
      val docs = nerCorpus(spark, n, dictSize)
      val (nodes, clusters) = nerDictionary(spark, dictSize)
      val ner = new graft.ner.DictionaryNer(nodes, clusters,
        dictBuild = graft.ner.DictionaryNer.ShuffleHashDict)
      var matches = 0L
      val (sec, _) = timeIt(spark) {
        matches = ner.textToKg2Nodes(docs, "doc_id", "text").count()
        matches
      }
      Point(n, Seq(
        "docs" -> n.toString,
        "dict terms" -> dictSize.toString,
        "matches" -> matches.toString,
        "match rate" -> f"${matches.toDouble / n}%.3f",
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 4c. External-model adapter (ModelNer) batching --------------
    val adapterPts = points.map { n =>
      val dictSize = 10000
      val docs = nerCorpus(spark, n, dictSize)
      val (nodes, clusters) = nerDictionary(spark, dictSize)
      val opens = spark.sparkContext.longAccumulator("scale-ner-opens")
      val batches = spark.sparkContext.longAccumulator("scale-ner-batches")
      val linker = new graft.ner.ModelNer(nodes, clusters,
        Seq(graft.ner.DictionaryDouble.fromNodes(nodes,
          opens = Some(opens), batches = Some(batches))),
        graft.ner.NerConfig(threshold = 0.5, maxEntitiesPerMention = 8,
          batchSize = 256))
      var matches = 0L
      val (sec, _) = timeIt(spark) {
        matches = linker.textToKg2Nodes(docs, "doc_id", "text").count()
        matches
      }
      // counts from ONE clean run (timeIt samples twice)
      opens.reset(); batches.reset()
      linker.textToKg2Nodes(docs, "doc_id", "text").count()
      val nSentences = graft.ner.DictionaryNer
        .sentences(docs, "doc_id", "text").count()
      spark.catalog.clearCache()
      Point(n, Seq(
        "docs" -> n.toString,
        "sentences" -> nSentences.toString,
        "model opens" -> opens.value.toString,
        "linkBatch calls" -> batches.value.toString,
        "sents/call" -> f"${nSentences.toDouble / batches.value}%.1f",
        "matches" -> matches.toString,
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 4c-ens. Ensemble adapter: N providers, ONE sentence pass ----
    val ensemblePts = {
      val n = points.max
      val dictSize = 10000
      val docs = nerCorpus(spark, n, dictSize)
      val (nodes, clusters) = nerDictionary(spark, dictSize)
      Seq(1, 5).map { k =>
        val opens = spark.sparkContext.longAccumulator(s"ens-opens-$k")
        val batches = spark.sparkContext.longAccumulator(s"ens-batches-$k")
        val providers = (0 until k).map(_ =>
          graft.ner.DictionaryDouble.fromNodes(nodes,
            opens = Some(opens), batches = Some(batches)))
        val linker = new graft.ner.ModelNer(nodes, clusters, providers,
          graft.ner.NerConfig(threshold = 0.5, maxEntitiesPerMention = 8,
            batchSize = 256))
        var matches = 0L
        val (sec, _) = timeIt(spark) {
          matches = linker.textToKg2Nodes(docs, "doc_id", "text").count()
          matches
        }
        // counts from ONE clean run (timeIt samples twice)
        opens.reset(); batches.reset()
        linker.textToKg2Nodes(docs, "doc_id", "text").count()
        spark.catalog.clearCache()
        Point(k.toLong, Seq(
          "providers" -> k.toString,
          "docs" -> n.toString,
          "model opens" -> opens.value.toString,
          "linkBatch calls" -> batches.value.toString,
          "matches" -> matches.toString,
          "wall (s)" -> f"$sec%.2f"))
      }
    }

    // ---- 5. Synonymizer canonical-curie lookup (name path) -----------
    val synPts = points.map { n =>
      val nNodes = 1000000L
      val nameMod = 600000L
      val (nodes, clusters, edges) = synTables(spark, nNodes, nameMod)
      val syn = new graft.synonymizer.Synonymizer(nodes, clusters, edges)
      // batches larger than the name universe repeat names — realistic
      // (mined corpus names duplicate heavily) and the API dedups, so
      // the resolve rate is measured against DISTINCT probes
      val probes = spark.range(0, n).select(
        concat(lit("Name"), pmod(col("id"), lit(nameMod))).as("input"))
      val nDistinct = math.min(n, nameMod)
      var resolved = 0L
      val (sec, _) = timeIt(spark) {
        resolved = syn.canonicalCuriesByName(probes)
          .filter(col("preferred_curie").isNotNull).count()
        resolved
      }
      Point(n, Seq(
        "probe names" -> n.toString,
        "distinct" -> nDistinct.toString,
        "nodes" -> nNodes.toString,
        "resolved" -> resolved.toString,
        "resolve rate" -> f"${resolved.toDouble / nDistinct}%.3f",
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 5b. Synonymizer name path, Zipf-skewed (VERDICT r14 #5) ----
    // One "aspirin"-grade simplified name holds ~1% of the NODES table
    // and ~1% of the probe rows; the probe set scales with the node
    // count (corpus-mined names), so the broadcast default is the
    // wrong tool and the run exercises ShuffleProbe's salted name
    // join. AQE's skew split cannot be the mitigation at ANY of these
    // points: the hot key's joined bytes (~160k rows × ~100 B ≈ 16 MB
    // at 16M nodes) sit two orders below the 256 MB
    // skewedPartitionThresholdInBytes floor, so it never engages —
    // the salt spreads the hot name across 16 buckets
    // deterministically instead (Synonymizer.ProbeJoin scaladoc).
    val synSkewPts = Seq(1000000L, 4000000L, 16000000L)
      .filter(_ <= points.max * 80)
      .map { n =>
        val nameMod = n * 3 / 5
        val hot = (c: org.apache.spark.sql.Column) => c % 100 === 0
        val nodes = spark.range(0, n).select(
          concat(lit("N:"), col("id")).as("id"),
          concat(lit("N:"), col("id")).as("id_simplified"),
          when(hot(col("id")), lit("Name0"))
            .otherwise(concat(lit("Name"), pmod(col("id"), lit(nameMod))))
            .as("name"),
          when(hot(col("id")), lit("name0"))
            .otherwise(concat(lit("name"), pmod(col("id"), lit(nameMod))))
            .as("name_simplified"),
          lit("SmallMolecule").as("category"),
          concat(lit("C:"), expr("id div 2")).as("cluster_id"),
          lit("ChemicalEntity").as("major_branch"),
          lit(null).cast("string").as("name_sri"),
          lit(null).cast("string").as("category_sri"),
          lit(null).cast("string").as("name_kg2pre"),
          lit(null).cast("string").as("category_kg2pre"))
        val clusters = spark.range(0, n / 2).select(
          concat(lit("C:"), col("id")).as("cluster_id"),
          concat(lit("Pref"), col("id")).as("name"),
          lit("SmallMolecule").as("category"),
          array(concat(lit("N:"), col("id") * 2),
                concat(lit("N:"), col("id") * 2 + 1)).as("member_ids"),
          array().cast("array<string>").as("intra_cluster_edge_ids"))
        val edges = spark.range(0, 0).select(
          lit("").as("id"), lit("").as("subject"), lit("").as("predicate"),
          lit("").as("object"), lit("").as("upstream_resource_id"),
          lit("").as("primary_knowledge_source"))
        val syn = new graft.synonymizer.Synonymizer(nodes, clusters,
          edges, probeJoin = graft.synonymizer.Synonymizer.ShuffleProbe(16))
        val probes = spark.range(0, n).select(
          when(hot(col("id")), lit("Name0"))
            .otherwise(concat(lit("Name"), pmod(col("id"), lit(nameMod))))
            .as("input"))
        var resolved = 0L
        var hotResolved = 0L
        val (sec, _) = timeIt(spark) {
          val out = syn.canonicalCuriesByName(probes)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          resolved = out.filter(col("preferred_curie").isNotNull).count()
          hotResolved = out.filter(col("input") === "Name0" &&
            col("preferred_curie").isNotNull).count()
          out.unpersist(false)
          resolved
        }
        Point(n, Seq(
          "nodes" -> n.toString,
          "probe rows" -> n.toString,
          "hot-name node rows" -> (n / 100).toString,
          "resolved" -> resolved.toString,
          "hot resolved" -> hotResolved.toString,
          "wall (s)" -> f"$sec%.2f"))
      }

    // ---- 6. Connected components (pairs → dedup clusters) ------------
    val compPts = points.map { n =>
      // groups of 4 consecutive ids wired as a PATH (diameter 3, so
      // min-label propagation must actually iterate, not converge on
      // the fused init round)
      val edges = spark.range(0, n).toDF("src")
        .filter(col("src") % 4 =!= 3)
        .select(col("src"), (col("src") + 1).as("dst"))
      val nEdges = edges.count()
      var mislabeled = 0L
      val (sec, _) = timeIt(spark) {
        val labels = graft.extensions.Components
          .connectedComponents(edges, "src", "dst")
        mislabeled = labels
          .filter(col("comp") =!= (col("id") - pmod(col("id"), lit(4L))))
          .count()
        labels.count()
      }
      Point(n, Seq(
        "vertices" -> n.toString,
        "edges" -> nEdges.toString,
        "components" -> (n / 4).toString,
        "mislabeled" -> mislabeled.toString,
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 6b. Components, adversarial LONG PATH (phase-2 star rounds) -
    val pathPts = Seq(16384L, 65536L, 262144L).filter(_ <= points.max * 2)
      .map { n =>
        // single path over n vertices with XOR-permuted ids, so labels
        // can't ride a monotone layout; diameter n-1 → pure propagation
        // would need n rounds; the star phase closes it in O(log² n)
        val mask = (n >> 1) | (n >> 3)
        val p = (c: org.apache.spark.sql.Column) =>
          c.bitwiseXOR(lit(mask))
        val edges = spark.range(0, n - 1).toDF("i")
          .select(p(col("i")).as("src"), p(col("i") + 1).as("dst"))
        var mislabeled = 0L
        val (sec, _) = timeIt(spark) {
          val labels = graft.extensions.Components
            .connectedComponents(edges, "src", "dst")
          mislabeled = labels.filter(col("comp") =!= 0L).count()
          labels.count()
        }
        Point(n, Seq(
          "vertices" -> n.toString,
          "diameter" -> (n - 1).toString,
          "mislabeled" -> mislabeled.toString,
          "wall (s)" -> f"$sec%.2f"))
      }

    // ---- 7. DrugBank two-stage composite at corpus scale -------------
    // The reference pipeline end-to-end (perform_NER.py → look_for_
    // identifiers.py) over a distributed synthetic corpus with planted
    // truths: drug d's description plants its own name ("drug {d}") and
    // one of T shared terms; even drugs carry a diseased indication;
    // every 4th drug mines a bioentity NAME, every 8th also a bare
    // UniProt id. All expected map sizes are exact arithmetic.
    val drugPts = Seq(12800L, 51200L, 102400L).map { n =>
      val T = 1000L
      val D = 500L
      val (drugs, nodes, clusters) = drugCorpus(spark, n, T, D)
      val edges = spark.range(0, 0).select(
        lit("").as("id"), lit("").as("subject"), lit("").as("predicate"),
        lit("").as("object"), lit("").as("upstream_resource_id"),
        lit("").as("primary_knowledge_source"))
      def composite() = {
        val syn = new graft.synonymizer.Synonymizer(nodes, clusters, edges)
        graft.drugbank.Stage2.run(
          graft.drugbank.Stage1.run(drugs, syn,
            new graft.ner.DictionaryNer(nodes, clusters)),
          new graft.stage2.IdentifierAlignment(syn))
      }
      var recs = 0L
      val (sec, _) = timeIt(spark) {
        recs = composite().count()
        recs
      }
      val s2 = composite()
      val mechEntries = s2.select(
        explode(col("mechanistic_intermediate_nodes"))).count()
      val indEntries = s2.select(
        explode(col("indication_NER_aligned"))).count()
      spark.catalog.clearCache()
      val expMech = 2 * n + n / 2 + n / 4 + n / 8
      val expInd = n / 2
      Point(n, Seq(
        "drugs" -> n.toString,
        "records" -> s"$recs/$n",
        "mech entries" -> s"$mechEntries/$expMech",
        "ind entries" -> s"$indEntries/$expInd",
        "planted ok" ->
          (recs == n && mechEntries == expMech && indEntries == expInd)
            .toString,
        "wall (s)" -> f"$sec%.2f"))
    }

    // ---- 8. Incremental ingest: per-batch cost vs corpus age ---------
    // The steady-state question behind DocsStream.flagBatch: does
    // flagging ONE fixed-size new batch get slower as the accumulated
    // corpus grows? The text-recomputing variant re-shingles the whole
    // history every batch; the indexed variant reads the persistent
    // (doc_id, band) rows written at ingest time and shingles only
    // MATCHED candidates. Both sides read history from parquet (the
    // real ingest shape); the index write is ingest-time cost, so it is
    // deliberately OUTSIDE the timed flag path. Smaller ages filter the
    // max-age parquet by doc_id (predicate pushdown prunes the scan).
    val ingestB = 10000L
    val ingestAges = Seq(2L, 8L, 32L)
    val ingestTmp = s"${sys.props("java.io.tmpdir")}/graft_scale_ingest"
    locally {
      val maxHist = ingestAges.max * ingestB
      val hist = ingestHist(spark, maxHist)
      hist.write.mode("overwrite").parquet(s"$ingestTmp/hist")
      TextDedup.bandIndexOf(hist, "doc_id", "text")
        .select(col("id").as("doc_id"), col("band"))
        .write.mode("overwrite").parquet(s"$ingestTmp/bands")
      ingestBatch(spark, maxHist, ingestB, ingestAges.min * ingestB)
        .write.mode("overwrite").parquet(s"$ingestTmp/batch")
    }
    val ingestPts = ingestAges.map { a =>
      val nHist = a * ingestB
      val hist = spark.read.parquet(s"$ingestTmp/hist")
        .filter(col("doc_id") < nHist)
      val idx = spark.read.parquet(s"$ingestTmp/bands")
        .filter(col("doc_id") < nHist)
        .select(col("doc_id").as("id"), col("band"))
      val batch = spark.read.parquet(s"$ingestTmp/batch")
      val (secText, flaggedText) = timeIt(spark) {
        TextDedup.incrementalNearDups(
          batch, hist, "doc_id", "text", 0.5).count()
      }
      val (secIdx, flaggedIdx) = timeIt(spark) {
        TextDedup.incrementalNearDupsIndexed(
          batch, idx, hist, "doc_id", "text", 0.5).count()
      }
      Point(nHist, Seq(
        "history docs" -> nHist.toString,
        "batch docs" -> ingestB.toString,
        "planted dups" -> (ingestB / 2).toString,
        "flagged text" -> flaggedText.toString,
        "flagged indexed" -> flaggedIdx.toString,
        "wall text (s)" -> f"$secText%.2f",
        "wall indexed (s)" -> f"$secIdx%.2f"))
    }

    // ---- 9. Streaming IVF ingest: per-batch cost vs history size ----
    // The steady-state question behind VecsStream.ivfIngest: does
    // landing ONE fixed 20k-vector batch (map-side assignment + refit
    // advisory) get slower as the indexed history grows 16×? The
    // recompute variant rebuilds the history's per-cell error profile
    // from the lists table every batch — O(history) per batch. The
    // frozen variant compares against the k-row offline profile
    // artifact (what ivfIngestBatch actually receives) — O(batch).
    // Index build and the profile computation are ingest-time /
    // fit-time cost, deliberately OUTSIDE the timed path.
    val ivfIngB = 20000L
    // 160k -> 2.56M: at 640k and below the history rescan still hides
    // under the fixed per-batch overhead on this host (measured flat);
    // the divergence needs millions of vectors to show
    val ivfIngAges = Seq(8L, 32L, 128L)
    val ivfIngTmp = s"${sys.props("java.io.tmpdir")}/graft_scale_ivfing"
    val ivfIngIndex = locally {
      val maxHist = ivfIngAges.max * ivfIngB
      val all = vectorCorpus(spark, maxHist + ivfIngB)
      val hist = all.filter(col("vec_id") < maxHist)
      val idx = Ivf.trainDeterministic(hist, "vec_id", "embedding", 64)
      Ivf.assign(hist, "vec_id", "embedding", idx)
        .write.mode("overwrite").parquet(s"$ivfIngTmp/lists")
      all.filter(col("vec_id") >= maxHist)
        .write.mode("overwrite").parquet(s"$ivfIngTmp/batch")
      idx
    }
    val ivfIngPts = ivfIngAges.map { a =>
      val nHist = a * ivfIngB
      def lists = spark.read.parquet(s"$ivfIngTmp/lists")
        .filter(col("id") < nHist)
      val batch = spark.read.parquet(s"$ivfIngTmp/batch")
      // the k-row offline artifact for THIS history age (stream_ivf
      // demo memoizes exactly this shape)
      val profileRows = Ivf.cellStats(lists, ivfIngIndex).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val profile = {
        import spark.implicits._
        profileRows.toDF("cell", "n", "sum_qerr_q")
      }
      val (secRecompute, _) = timeIt(spark) {
        Ivf.refitAdvisory(
            Ivf.cellStats(lists, ivfIngIndex),
            Ivf.cellStats(
              Ivf.assign(batch, "vec_id", "embedding", ivfIngIndex),
              ivfIngIndex))
          .filter(col("drifted")).count()
      }
      val (secFrozen, drifted) = timeIt(spark) {
        Ivf.refitAdvisory(profile,
            Ivf.cellStats(
              Ivf.assign(batch, "vec_id", "embedding", ivfIngIndex),
              ivfIngIndex))
          .filter(col("drifted")).count()
      }
      Point(nHist, Seq(
        "history vecs" -> nHist.toString,
        "batch vecs" -> ivfIngB.toString,
        "drifted cells" -> drifted.toString,
        "wall recompute (s)" -> f"$secRecompute%.2f",
        "wall frozen (s)" -> f"$secFrozen%.2f"))
    }

    // ---- 10. Fixed-point PageRank (pagerank shape) -------------------
    // Ring-stride graphs: n vertices, 3 hash-stride out-links each (the
    // registry demo's construction, generated ON the executors). The
    // interesting properties at scale: wall ~ linear in |E| per
    // iteration, and the fixed-point claim — a differently-partitioned
    // rerun must reproduce the SAME BITS (sum + xxhash64 fingerprint
    // over all (id, rank) pairs), which is what makes an iterative
    // distributed job verifiable at any size.
    val prPts = Seq(100000L, 400000L, 1600000L, 6400000L)
      .filter(_ <= points.max * 32)
      .map { n =>
        def edges = spark.range(0, n).toDF("src")
          .select(col("src"),
            explode(array(lit(1), lit(2), lit(3))).as("j"))
          .select(col("src"),
            ((col("src") + 1L +
              pmod(hash(col("src") * 31L + col("j")), lit(n - 1))) % n)
              .as("dst"))
        def fingerprint(r: DataFrame): (Long, Long) = {
          // XOR-fold the per-row hashes (sum would overflow Long and
          // trip ANSI mode); total mass is bounded by Scale, so ITS
          // sum is safe
          val row = r.agg(sum(col("rank_fp")).as("s"),
            expr("bit_xor(xxhash64(id, rank_fp))").as("x"))
            .collect().head
          (row.getLong(0), row.getLong(1))
        }
        var fpA = (0L, 0L)
        val (sec, _) = timeIt(spark) {
          val r = graft.extensions.Graph
            .pageRankFixedPoint(edges, "src", "dst", iterations = 4)
          fpA = fingerprint(r)
          1L
        }
        val fpB = fingerprint(graft.extensions.Graph
          .pageRankFixedPoint(edges.repartition(17), "src", "dst",
            iterations = 4))
        var nWalkRows = 0L
        val (secW, _) = timeIt(spark) {
          nWalkRows = graft.extensions.Graph.deterministicWalks(edges,
            "src", "dst", steps = 3, walksPerStart = 2).count()
          nWalkRows
        }
        // the fused pairs pipeline (r15): same picks, but the corpus
        // never materializes and there is no self-join — the job the
        // walk_pairs demo actually runs
        var nPairRows = 0L
        val (secF, _) = timeIt(spark) {
          nPairRows = graft.extensions.Graph.walkSkipGramPairs(edges,
            "src", "dst", steps = 3, walksPerStart = 2, window = 2)
            .count()
          nPairRows
        }
        // node2vec-biased walks over the same graph: the weight fold
        // stays map-side; r12 trades the per-row prev-adjacency array
        // for a second keyed probe of the persisted adjacency
        val (secB, _) = timeIt(spark) {
          graft.extensions.Graph.biasedWalks(edges, "src", "dst",
            steps = 3, walksPerStart = 2,
            wReturn = 1, wStay = 2, wExplore = 4).count()
        }
        // fused pairs over the BIASED walker (r15): the same weight
        // fold picking edges, the corpus never materializing — must
        // track the uniform fused growth, paying only the bias's
        // constant-factor second adjacency probe per step
        var nPairRowsB = 0L
        val (secFB, _) = timeIt(spark) {
          nPairRowsB = graft.extensions.Graph.walkSkipGramPairsBiased(
            edges, "src", "dst", steps = 3, walksPerStart = 2,
            window = 2, wReturn = 1, wStay = 2, wExplore = 4).count()
          nPairRowsB
        }
        // label propagation over the same graph: ~14% seeds, 5 label
        // classes; `labeled` counts vertices reached within 3 rounds
        var nLabeled = 0L
        val (secL, _) = timeIt(spark) {
          val seeds = spark.range(0, n).toDF("id")
            .filter(col("id") % 7 === 0)
            .select(col("id"), (col("id") % 5).cast("string").as("lab"))
          nLabeled = graft.extensions.Graph.labelPropagation(edges,
              "src", "dst", seeds, "id", "lab", rounds = 3)
            .filter(col("label").isNotNull).count()
          nLabeled
        }
        Point(n, Seq(
          "vertices" -> n.toString,
          "edges" -> (3 * n).toString,
          "iterations" -> "4",
          "layout-invariant" -> (fpA == fpB).toString,
          "wall 4 iters (s)" -> f"$sec%.2f",
          "walk rows" -> nWalkRows.toString,
          "wall walks (s)" -> f"$secW%.2f",
          "pair rows" -> nPairRows.toString,
          "wall fused pairs (s)" -> f"$secF%.2f",
          "wall biased walks (s)" -> f"$secB%.2f",
          "pair rows biased" -> nPairRowsB.toString,
          "wall fused biased (s)" -> f"$secFB%.2f",
          "labeled frac" -> f"${nLabeled.toDouble / n}%.3f",
          "wall labelprop (s)" -> f"$secL%.2f"))
      }

    // ---- 11. Triangles + link prediction (graph_triangles shape) ----
    // Same ring-stride graphs. Triangle counting's scale property is
    // the degree-ordered orientation bounding the wedge join at
    // O(m^1.5) total; layout invariance is checked with a full
    // (id, triangles) fingerprint like §10's rank vector. Link
    // prediction runs the capped-center pair join + anti-join + top-k.
    val triPts = Seq(100000L, 400000L, 1600000L, 6400000L)
      .filter(_ <= points.max * 32)
      .map { n =>
        def edges = spark.range(0, n).toDF("src")
          .select(col("src"),
            explode(array(lit(1), lit(2), lit(3))).as("j"))
          .select(col("src"),
            ((col("src") + 1L +
              pmod(hash(col("src") * 31L + col("j")), lit(n - 1))) % n)
              .as("dst"))
        def fingerprint(t: DataFrame): (Long, Long) = {
          val row = t.agg(
            (sum(col("triangles")) / 3L).cast("long").as("t"),
            expr("bit_xor(xxhash64(id, triangles))").as("x"))
            .collect().head
          (row.getLong(0), row.getLong(1))
        }
        var fpA = (0L, 0L)
        val (sec, _) = timeIt(spark) {
          fpA = fingerprint(graft.extensions.Graph
            .triangleCounts(edges, "src", "dst"))
          1L
        }
        val fpB = fingerprint(graft.extensions.Graph
          .triangleCounts(edges.repartition(17), "src", "dst"))
        var nCand = 0L
        val (secP, _) = timeIt(spark) {
          nCand = graft.extensions.Graph.linkCandidates(edges,
            "src", "dst", maxCenterDegree = 64, k = 50).count()
          nCand
        }
        // k-core peel on the same graph (4 rounds of thin
        // agg+anti-join rounds over the shrinking frame)
        var coreRows = 0L
        val (secK, _) = timeIt(spark) {
          coreRows = graft.extensions.Graph.kCore(edges, "src", "dst",
            k = 4, maxRounds = 4).count()
          coreRows
        }
        // k-truss on a circulant C_n(1..4) — the ring-stride graph is
        // triangle-poor so an edge peel over it measures nothing; the
        // circulant gives every edge O(1) support and the k=6 peel
        // genuinely cascades (stride-4 drops in round 1, stride-2 in
        // round 2, the rest at the budget). 2 bounded rounds + the
        // final support pass = 3 full degree-ordered triangle
        // enumerations of 4n edges.
        def circ = spark.range(0, n).toDF("src")
          .select(col("src"),
            explode(array(lit(1), lit(2), lit(3), lit(4))).as("j"))
          .select(col("src"), ((col("src") + col("j")) % n).as("dst"))
        var trussRows = 0L
        val (secT, _) = timeIt(spark) {
          trussRows = graft.extensions.Graph.kTruss(circ, "src", "dst",
            k = 6, maxRounds = 2, localCutoff = 0).count()
          trussRows
        }
        // sparse-peel truss: the circulant + n/64 hash chords at k=5.
        // Only the near-zero-support chords drop in round 1 (every
        // circulant stride has support >= 3 = k-2), so 4|D| <<
        // survivors and the round routes through the adaptive DELTA
        // support maintenance (O(m + |D|*deg), no second O(m^1.5)
        // enumeration) — the long-tail regime the k=6 cascade (mass
        // extinction by construction, correctly re-enumerated by the
        // adaptive rule) never reaches.
        def chords = spark.range(0, n / 64).toDF("i")
          .select(pmod(hash(col("i") * 7L), lit(n)).cast("long")
              .as("src"),
            pmod(hash(col("i") * 13L + 5L), lit(n)).cast("long")
              .as("dst"))
        var trussSRows = 0L
        val (secTS, _) = timeIt(spark) {
          trussSRows = graft.extensions.Graph.kTruss(
            circ.unionByName(chords), "src", "dst",
            k = 5, maxRounds = 3, localCutoff = 0).count()
          trussSRows
        }
        Point(n, Seq(
          "vertices" -> n.toString,
          "edges" -> (3 * n).toString,
          "triangles" -> fpA._1.toString,
          "layout-invariant" -> (fpA == fpB).toString,
          "wall triangles (s)" -> f"$sec%.2f",
          "top-k rows" -> nCand.toString,
          "wall linkpredict (s)" -> f"$secP%.2f",
          "core rows" -> coreRows.toString,
          "wall kcore (s)" -> f"$secK%.2f",
          "truss rows" -> trussRows.toString,
          "wall ktruss (s)" -> f"$secT%.2f",
          "sparse truss rows" -> trussSRows.toString,
          "wall ktruss sparse (s)" -> f"$secTS%.2f"))
      }

    // ---- 12. Lloyd k-means + SemDeDup (kmeans_* / semdedup_prune) ----
    // The flops of training/assignment (n·k·d) are pure MAP work — they
    // scale out with executors; what must stay bounded is the shuffle:
    // the per-round centroid update carries k·d keys regardless of
    // corpus size, and the SemDeDup pair join is bounded by the cell
    // size the caller chooses via k. Two regimes: data growth at fixed
    // k=256 (wall should track n), and the fixed-cell-size SemDeDup
    // regime (k = n/512, candidate volume ∝ n — the paper's own
    // argument for why within-cluster search beats n²).
    val kmPts = Seq(100000L, 400000L, 1600000L)
      .filter(_ <= points.max * 8)
      .map { n =>
        val vecs = vectorCorpus(spark, n)
        var model: graft.extensions.Kmeans.KmeansModel = null
        val (secT, _) = timeIt(spark) {
          model = graft.extensions.Kmeans.lloyd(vecs, "vec_id",
            "embedding", k = 256, rounds = 2)
          model.inertiaQ.last
        }
        // Lloyd invariant on the quantized longs, with the honest
        // slack: each point's floor(d·1e6) loses up to one quantum, so
        // a round-over-round improvement smaller than n quanta
        // (n·1e-6 distance units) is indistinguishable from noise —
        // allow it rather than misreport a correct engine near
        // convergence
        val mono = model.inertiaQ.sliding(2)
          .forall(s => s.length < 2 || s(1) <= s(0) + n)
        // agg over dq, NOT count(): a bare count lets Catalyst prune
        // the argmin projection away and the timer would measure row
        // counting instead of assignment flops
        var dqSum = 0L
        val (secA, _) = timeIt(spark) {
          dqSum = graft.extensions.Kmeans.assign(vecs, "vec_id",
              "embedding", Assigner.Exact(model))
            .agg(sum(col("dq"))).collect().head.getLong(0)
          dqSum
        }
        spark.catalog.clearCache()
        Point(n, Seq(
          "vectors" -> n.toString,
          "k" -> "256",
          "rounds" -> "2",
          "inertia monotone" -> mono.toString,
          "wall train (s)" -> f"$secT%.2f",
          "wall assign (s)" -> f"$secA%.2f"))
      }

    val sdPts = Seq(100000L, 200000L, 400000L)
      .filter(_ <= points.max * 2)
      .map { n =>
        val vecs = vectorCorpus(spark, n)
        val kCells = (n / 512L).toInt
        val model = graft.extensions.Kmeans.lloyd(vecs, "vec_id",
          "embedding", k = kCells, rounds = 1)
        // ONE aggregation returns both counts — the within-cell pair
        // join is this section's dominant cost, so twin recall must not
        // re-run it outside the timer. Twins: the 100 planted ×1.0005
        // copies are the ground-truth duplicate pairs (cos ≈ 1 > 0.99;
        // random 32-d cosines never approach it).
        var nPairs = 0L
        var twins = 0L
        val (secS, _) = timeIt(spark) {
          val r = graft.extensions.Kmeans.nearDupPairs(vecs, "vec_id",
              "embedding", Assigner.Exact(model),
              threshold = 0.99)
            .agg(count(lit(1)).as("np"),
                 // a twin must also have id_a in the planted SOURCE
                 // range [0, 100) (vectorCorpus copies ids 0..99 to the
                 // last 100 slots) — with that, offset == n-100 is
                 // exact: id_b = id_a + n-100 IS id_a's planted copy,
                 // so no coincidental pair can inflate recall
                 sum(when(col("id_b") - col("id_a") === n - 100 &&
                     col("id_a") < 100, 1L)
                   .otherwise(0L)).as("tw"))
            .collect().head
          nPairs = r.getLong(0)
          twins = if (r.isNullAt(1)) 0L else r.getLong(1)
          nPairs
        }
        // assignment flops at this k regime: exact argmin is n·k·d,
        // the two-level route is ~n·2√k·d — measure both on the same
        // trained model
        // agg over dq (count() would prune the argmin away — see the
        // kmPts note)
        val (secAx, _) = timeIt(spark) {
          graft.extensions.Kmeans.assign(vecs, "vec_id", "embedding",
              Assigner.Exact(model))
            .agg(sum(col("dq"))).collect().head.getLong(0)
        }
        // routing structures are built ONCE (a pure function of the
        // model, the offline-artifact stance) so the timer measures the
        // per-vector assignment flops, symmetric with the exact column
        val nSup = math.max(2, math.sqrt(kCells.toDouble).toInt)
        val routing = Assigner.Routed(
          graft.extensions.Kmeans.framedRoutingFor(
            graft.extensions.Kmeans.lastCentroidsFrame(spark, model),
            "cluster", "cv", nSupers = nSup))
        val (secAr, _) = timeIt(spark) {
          graft.extensions.Kmeans.assign(vecs, "vec_id", "embedding",
              routing)
            .agg(sum(col("dq"))).collect().head.getLong(0)
        }
        // the ROUTED prune pipeline's candidate generator
        // (semdedup_prune_framed): same within-cell search over routed
        // cell membership — a twin is lost iff routing SPLITS the pair
        // across cells where exact assignment co-located it, so the
        // recall column next to the exact one IS the measured cost of
        // the nProbe=1 trade on the prune pipeline (VERDICT r15 #2)
        var nPairsR = 0L
        var twinsR = 0L
        val (secSR, _) = timeIt(spark) {
          val r = graft.extensions.Kmeans.nearDupPairs(vecs,
              "vec_id", "embedding", routing, threshold = 0.99)
            .agg(count(lit(1)).as("np"),
                 sum(when(col("id_b") - col("id_a") === n - 100 &&
                     col("id_a") < 100, 1L)
                   .otherwise(0L)).as("tw"))
            .collect().head
          nPairsR = r.getLong(0)
          twinsR = if (r.isNullAt(1)) 0L else r.getLong(1)
          nPairsR
        }
        spark.catalog.clearCache()
        Point(n, Seq(
          "vectors" -> n.toString,
          "cells" -> kCells.toString,
          "avg cell" -> "512",
          "dup pairs" -> nPairs.toString,
          "twin recall" -> f"${twins / 100.0}%.2f",
          "wall pairs (s)" -> f"$secS%.2f",
          "routed pairs" -> nPairsR.toString,
          "routed twin recall" -> f"${twinsR / 100.0}%.2f",
          "wall routed pairs (s)" -> f"$secSR%.2f",
          "wall assign exact (s)" -> f"$secAx%.2f",
          "supers" -> nSup.toString,
          "wall assign routed (s)" -> f"$secAr%.2f"))
      }

    // ---- 5c. normalizerResults octaves (VERDICT r15 #7) --------------
    mark("5c normalizerResults")
    // The WIDEST synonymizer query (fallback resolve + full member
    // detail arrays + category histograms + rep-category join) against
    // a growing KG with a FIXED 100k-probe batch — the nightly-batch
    // shape. ShuffleProbe: at 16M nodes the clusters-sized member
    // frame (8M rows of arrays) is past any sane broadcast, exactly
    // the regime the mode exists for.
    // 64M octave (VERDICT r16 #7): the clusters member frame is ~32M
    // array rows here — the ×4 must keep holding once the member
    // detail assembly dominates
    val synNormPts = Seq(1000000L, 4000000L, 16000000L, 64000000L)
      .filter(_ <= points.max * 320)
      .map { n =>
        val nameMod = n * 3 / 5
        val (nodes, clusters, edges) = synTables(spark, n, nameMod)
        val syn = new graft.synonymizer.Synonymizer(nodes, clusters,
          edges, probeJoin = graft.synonymizer.Synonymizer.ShuffleProbe(16))
        // half the probes resolve as curies, half as names through the
        // fallback retry — both resolve paths stay on the measured path
        val probes = spark.range(0, 100000L).select(
          when(col("id") % 2 === 0,
            concat(lit("N:"), pmod(col("id") * 7L, lit(n))))
          .otherwise(concat(lit("Name"), pmod(col("id"), lit(nameMod))))
          .as("input"))
        var memberRows = 0L
        var withCat = 0L
        val (sec, _) = timeIt(spark) {
          // agg over the assembled member arrays + a category column —
          // a bare count() would let Catalyst prune the collect_list
          // assembly and the rep-category join away (the §12 lesson)
          val r = syn.normalizerResults(probes)
            .agg(sum(size(col("nodes"))).as("m"),
                 count(col("preferred_category")).as("c"))
            .collect().head
          memberRows = if (r.isNullAt(0)) 0L else r.getLong(0)
          withCat = r.getLong(1)
          memberRows
        }
        spark.catalog.clearCache()
        Point(n, Seq(
          "nodes" -> n.toString,
          "probe rows" -> "100000",
          "member detail rows" -> memberRows.toString,
          "with category" -> withCat.toString,
          "wall (s)" -> f"$sec%.2f"))
      }

    // ---- 12b. FRAMED k-means assignment at production k (r15 #1) ----
    mark("12b framed kmeans")
    // k = 10,000 member centroids NEVER touch the driver or the plan:
    // training is lloydFramed (centroid state lives in a (cluster, cv)
    // frame between rounds; per-round driver state = nSupers·d super
    // sums + the populated-super set, 3,200 doubles at this shape vs
    // the k·d = 320,000 the literal path would collect), assignment is
    // route (100 super literals) → equi-join on super against the
    // member frame → per-vector argmin. The member table is
    // localCheckpoint-snapshotted after the routing build — the
    // offline-artifact stance — so the assignment timer measures
    // assignment, not a replay of training lineage.
    val kmFramedPts = Seq(100000L, 400000L)
      .filter(_ <= points.max * 2)
      .map { n =>
        val vecs = vectorCorpus(spark, n)
        val k = 10000
        val nSup = 100
        var cents: DataFrame = null
        val (secT, _) = timeIt(spark) {
          cents = graft.extensions.Kmeans.centroidsOf(
            graft.extensions.Kmeans.lloydFramed(vecs, "vec_id",
              "embedding", k = k, rounds = 1, nSupers = nSup))
          cents.count()
        }
        val routing0 = graft.extensions.Kmeans.framedRoutingFor(
          cents, "cluster", "cv", nSupers = nSup)
        val routing = graft.extensions.Kmeans.FramedRouting(
          routing0.routeCents, routing0.members.localCheckpoint(true))
        var dqSum = 0L
        val (secA, _) = timeIt(spark) {
          // agg over dq (a bare count would prune the argmin — §12)
          dqSum = graft.extensions.Kmeans.assign(vecs, "vec_id",
              "embedding", Assigner.Routed(routing))
            .agg(sum(col("dq"))).collect().head.getLong(0)
          dqSum
        }
        spark.catalog.clearCache()
        Point(n, Seq(
          "vectors" -> n.toString,
          "k" -> k.toString,
          "supers" -> nSup.toString,
          "driver centroid state" -> s"${nSup * 32}d (vs ${k * 32}d literal)",
          "wall train framed (s)" -> f"$secT%.2f",
          "wall assign framed (s)" -> f"$secA%.2f"))
      }

    // ---- 12c. THREE-LEVEL framed assignment at k = 100,000 (r16 #2) --
    mark("12c three-level")
    // The next ceiling after driver state is the member-array ROW: the
    // two-level path packs k/nSupers member centroids into ONE array
    // row per super — ~316 members (~81 KB) here, ~9 MB at the SemDeDup
    // regime (k≈2M, d=768). Three levels bound every joined row at
    // ~k^(1/3) members AND cut assignment flops from n·(s + k/s)·d to
    // ~n·3·k^(1/3)·d. Columns to watch: max two-level row vs max leaf
    // row (members), the two assign walls, and the agreement fraction —
    // the measured cost of the added mid-level nProbe=1 trade.
    val kmFramed3Pts = Seq(200000L, 800000L)
      .filter(_ <= points.max * 4)
      .map { n =>
        val vecs = vectorCorpus(spark, n)
        val k = 100000
        val nSup2 = 316 // ≈ √k (the two-level layout)
        val nSup3 = 46  // ≈ k^(1/3) (supers AND mids)
        var cents: DataFrame = null
        val (secT, _) = timeIt(spark) {
          cents = graft.extensions.Kmeans.centroidsOf(
            graft.extensions.Kmeans.lloydFramed(vecs, "vec_id",
              "embedding", k = k, rounds = 1, nSupers = nSup2))
          cents.count()
        }
        // offline-artifact stance: snapshot the trained centroid frame
        // so neither routing build replays training lineage
        val cc = cents.localCheckpoint(true)
        val r2raw = graft.extensions.Kmeans.framedRoutingFor(
          cc, "cluster", "cv", nSupers = nSup2)
        val r2 = graft.extensions.Kmeans.FramedRouting(
          r2raw.routeCents, r2raw.members.localCheckpoint(true))
        val max2 = r2.members.groupBy("super").count()
          .agg(max("count")).collect().head.getLong(0)
        val (secA2, _) = timeIt(spark) {
          graft.extensions.Kmeans.assign(vecs, "vec_id",
              "embedding", Assigner.Routed(r2))
            .agg(sum(col("dq"))).collect().head.getLong(0)
        }
        val r3raw = graft.extensions.Kmeans.framedRoutingFor3(
          cc, "cluster", "cv", nSupers = nSup3, nMids = nSup3)
        val r3 = graft.extensions.Kmeans.FramedRouting3(
          r3raw.routeCents, r3raw.mids.localCheckpoint(true),
          r3raw.members.localCheckpoint(true))
        val maxLeaf = r3.members.groupBy("super", "mid").count()
          .agg(max("count")).collect().head.getLong(0)
        val (secA3, _) = timeIt(spark) {
          graft.extensions.Kmeans.assign(vecs, "vec_id",
              "embedding", Assigner.Routed3(r3))
            .agg(sum(col("dq"))).collect().head.getLong(0)
        }
        // quality, measured two ways on the SAME assignment frames:
        // (a) raw cell agreement between the two hierarchies — two
        // DIFFERENT nProbe=1 partitions of unstructured uniform-random
        // vectors (the quantization worst case: thousands of centroids
        // near-equidistant from any query), so this is expected LOW and
        // is reported for honesty, not as the operative metric;
        // (b) planted-twin co-location — the SemDeDup-relevant
        // property (near-identical vectors must land in the SAME cell
        // for the within-cell search to see the pair), per level.
        val a2 = graft.extensions.Kmeans.assign(vecs, "vec_id",
          "embedding", Assigner.Routed(r2))
          .select(col("id"), col("cluster").as("c"))
          .localCheckpoint(true)
        val a3 = graft.extensions.Kmeans.assign(vecs, "vec_id",
          "embedding", Assigner.Routed3(r3))
          .select(col("id"), col("cluster").as("c"))
          .localCheckpoint(true)
        val agree = a2.select(col("id"), col("c").as("c2"))
          .join(a3.select(col("id"), col("c").as("c3")), "id")
          .agg(sum(when(col("c2") === col("c3"), 1L).otherwise(0L)),
               count(lit(1)))
          .collect().head
        val agreeFrac = agree.getLong(0).toDouble / agree.getLong(1)
        def twinColoc(a: DataFrame): Double = {
          val twinBase = n - 100
          val src = a.filter(col("id") < 100)
            .select(col("id").as("sid"), col("c").as("cs"))
          val twin = a.filter(col("id") >= twinBase)
            .select((col("id") - twinBase).as("sid"), col("c").as("ct"))
          val r = src.join(twin, "sid")
            .agg(sum(when(col("cs") === col("ct"), 1L).otherwise(0L)),
                 count(lit(1)))
            .collect().head
          r.getLong(0).toDouble / r.getLong(1)
        }
        val coloc2 = twinColoc(a2)
        val coloc3 = twinColoc(a3)
        // (c) the r17 #3 recovery knob: BOTH hierarchies at nProbe=2 —
        // each side recovers its own second-nearest-cell losses, so
        // the two different partitions converge toward the same
        // (near-exact) decision; the agreement lift over the nProbe=1
        // column is the measured recovery of the multi-probe path.
        val (secA3p2, _) = timeIt(spark) {
          graft.extensions.Kmeans.assign(vecs, "vec_id",
              "embedding", Assigner.Routed3(r3, nProbe = 2))
            .agg(sum(col("dq"))).collect().head.getLong(0)
        }
        val a2p2 = graft.extensions.Kmeans.assign(vecs, "vec_id",
            "embedding", Assigner.Routed(r2, nProbe = 2))
          .select(col("id"), col("cluster").as("c2"))
        val a3p2 = graft.extensions.Kmeans.assign(vecs, "vec_id",
            "embedding", Assigner.Routed3(r3, nProbe = 2))
          .select(col("id"), col("cluster").as("c3"))
        val agreeP2row = a2p2.join(a3p2, "id")
          .agg(sum(when(col("c2") === col("c3"), 1L).otherwise(0L)),
               count(lit(1)))
          .collect().head
        val agreeP2 = agreeP2row.getLong(0).toDouble / agreeP2row.getLong(1)
        val avgLeaf = r3.members.groupBy("super", "mid").count()
          .agg(avg("count")).collect().head.getDouble(0)
        spark.catalog.clearCache()
        Point(n, Seq(
          "vectors" -> n.toString,
          "k" -> k.toString,
          "2-level supers" -> nSup2.toString,
          "3-level s×m" -> s"$nSup3×$nSup3",
          "max 2-level row (members)" -> max2.toString,
          "leaf row avg/max (members)" -> f"$avgLeaf%.0f/$maxLeaf",
          "wall train framed (s)" -> f"$secT%.2f",
          "wall assign 2-level (s)" -> f"$secA2%.2f",
          "wall assign 3-level (s)" -> f"$secA3%.2f",
          "wall assign 3-level p2 (s)" -> f"$secA3p2%.2f",
          "twin co-locate 2-level" -> f"$coloc2%.2f",
          "twin co-locate 3-level" -> f"$coloc3%.2f",
          "cross-hierarchy agree" -> f"$agreeFrac%.3f",
          "agree @ nProbe=2 both" -> f"$agreeP2%.3f"))
      }

    // ---- 12d. Dense-cell cap under a planted mega-cell (r16 #5) ------
    mark("12d dense-cell cap")
    // One Zipf-mass cell (10,000 IDENTICAL embeddings — mass-duplicated
    // boilerplate, a real crawl pathology) makes the within-cell search
    // quadratic: C(10k, 2) ≈ 50M cosine pairs in ONE task. The capped
    // path star-reduces the cell (members pair with its smallest id
    // only — connectivity preserved for the components step, keep rule
    // unchanged); the uncapped column is the counterfactual.
    val sdCapPts = Seq(200000L)
      .filter(_ <= points.max)
      .map { n =>
        val nDup = 10000L
        val planted = spark.range(n, n + nDup).toDF("vec_id")
          .withColumn("embedding",
            transform(sequence(lit(0), lit(31)),
              j => ((pmod(hash(j.cast("long") * 7L), lit(2001))
                      - lit(1000)).cast("double") / lit(1000.0))
                .cast("float")))
        val vecs = vectorCorpus(spark, n).unionByName(planted)
        val kCells = (n / 512L).toInt
        val model = graft.extensions.Kmeans.lloyd(vecs, "vec_id",
          "embedding", k = kCells, rounds = 1)
        val staged = graft.extensions.Kmeans.semStage(vecs, "vec_id",
          "embedding", Assigner.Exact(model))
        val megaSize = staged.groupBy("cluster").count()
          .agg(max("count")).collect().head.getLong(0)
        var cappedPairs = 0L
        val (secC, _) = timeIt(spark) {
          cappedPairs = graft.extensions.Kmeans.pairsOf(staged, 0.99)
            .agg(count(lit(1))).collect().head.getLong(0)
          cappedPairs
        }
        var uncappedPairs = 0L
        val (secU, _) = timeIt(spark) {
          uncappedPairs = graft.extensions.Kmeans.pairsOf(staged, 0.99,
              maxCell = Int.MaxValue)
            .agg(count(lit(1))).collect().head.getLong(0)
          uncappedPairs
        }
        spark.catalog.clearCache()
        Point(n, Seq(
          "vectors" -> (n + nDup).toString,
          "planted identical" -> nDup.toString,
          "mega cell size" -> megaSize.toString,
          "capped pairs" -> cappedPairs.toString,
          "wall capped (s)" -> f"$secC%.2f",
          "uncapped pairs" -> uncappedPairs.toString,
          "wall uncapped (s)" -> f"$secU%.2f"))
      }

    // ---- 13. BPE id-domain training (r15 #3) -------------------------
    mark("13 bpe id-domain")
    // The word-frequency formulation measured: ONE corpus-scale
    // aggregation builds the (word-ids, cnt) table, then every merge
    // round runs on that bounded table — per-round wall must be flat
    // in BOTH the round number (128-round budget, far past the old
    // 26-placeholder ceiling) and the corpus size (octave growth hits
    // the one-time aggregation only).
    def bpeCorpus(n: Long): DataFrame = {
      val alpha = lit("abcdefghijklmnopqrstuvwxyz")
      def letter(w: org.apache.spark.sql.Column, p: Int) =
        alpha.substr(
          (pmod(floor(w / math.pow(26, p)).cast("long"), lit(26L)) + 1L)
            .cast("int"), lit(1))
      spark.range(0, n).toDF("doc_id")
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0L), lit(29L)), j => {
            val w = pmod(hash(col("doc_id") * 1009L + j * 131L),
              lit(5000)).cast("long")
            concat((0 to 5).map(p => letter(w, p)): _*)
          })))
        .select("doc_id", "text")
    }
    def timeOnce(action: => Long): Double = {
      val t0 = System.nanoTime(); action; (System.nanoTime() - t0) / 1e9
    }
    val bpePts = Seq(200000L, 800000L)
      .filter(_ <= points.max * 4)
      .map { n =>
        val docs = bpeCorpus(n)
        val wf = graft.extensions.Bpe.wordFreqIds(docs, "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          var vocab = 0L
          val secW = timeOnce { vocab = wf.count(); vocab }
          var m32 = 0
          val sec32 = timeOnce {
            m32 = graft.extensions.Bpe.collectMergesIdsFrom(wf, 32).size
            m32.toLong
          }
          var m128 = 0
          val sec128 = timeOnce {
            m128 = graft.extensions.Bpe.collectMergesIdsFrom(wf, 128).size
            m128.toLong
          }
          Point(n, Seq(
            "docs" -> n.toString,
            "word occurrences" -> (30 * n).toString,
            "distinct words" -> vocab.toString,
            "wall freq table (s)" -> f"$secW%.2f",
            "merges@32/@128" -> s"$m32/$m128",
            "ms/round early (1-32)" -> f"${sec32 / 32 * 1000}%.0f",
            "ms/round late (33-128)" -> f"${(sec128 - sec32) / 96 * 1000}%.0f"))
        } finally {
          wf.unpersist(false)
          ()
        }
      }

    // ---- 13b. VOCAB-SCALE trainer (r17 #1) ---------------------------
    mark("13b bpe vocab-scale")
    // The driver-incremental Sennrich trainer measured against the
    // per-round-job trainer at a REAL vocabulary size: ≥1000 merges is
    // where the sequential formulation's r jobs × O(r) re-application
    // becomes the wall. Corpus: 200k distinct 10-letter word types
    // (1.8M fusable positions — 8k merges all find winners).
    def bpeCorpusWide(n: Long, types: Long, wlen: Int): DataFrame = {
      val alpha = lit("abcdefghijklmnopqrstuvwxyz")
      spark.range(0, n).toDF("doc_id")
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0L), lit(29L)), j => {
            val w = pmod(hash(col("doc_id") * 1009L + j * 131L),
              lit(types)).cast("long")
            concat((0 until wlen).map(p => alpha.substr(
              (pmod(hash(w * lit(31L) + lit(p.toLong)), lit(26L)) + 1L)
                .cast("int"), lit(1))): _*)
          })))
        .select("doc_id", "text")
    }
    val bpeFastPts = Seq((800000L, 200000L))
      .filter(_._1 <= points.max * 4)
      .map { case (n, types) =>
        val docs = bpeCorpusWide(n, types, 10)
        val wf = graft.extensions.Bpe.wordFreqIds(docs, "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          var vocab = 0L
          val secW = timeOnce { vocab = wf.count(); vocab }
          // the sequential trainer sampled at 256 rounds for its
          // per-round rate (running it to 8k would BE the wall the
          // fast trainer exists to remove)
          var mSeq = 0
          val secSeq = timeOnce {
            mSeq = graft.extensions.Bpe.collectMergesIdsFrom(wf, 256).size
            mSeq.toLong
          }
          var mFast = 0
          val secFast = timeOnce {
            mFast = graft.extensions.Bpe
              .collectMergesIdsFastFrom(wf, 8192).size
            mFast.toLong
          }
          Point(n, Seq(
            "docs" -> n.toString,
            "distinct words" -> vocab.toString,
            "wall freq agg (s)" -> f"$secW%.2f",
            "seq: merges/jobs/wall (s)" -> f"$mSeq/$mSeq/$secSeq%.1f",
            "fast: merges/jobs/wall (s)" -> f"$mFast/2/$secFast%.1f",
            "seq extrapolated to fast's merges (s)" ->
              f"${secSeq / mSeq * mFast}%.0f"))
        } finally {
          wf.unpersist(false)
          ()
        }
      }

    // ---- 5c-cores. Executors-absorb adjudication (VERDICT r17 #4) ----
    mark("5c-cores")
    // §5c's octave growth (×1.2 → ×1.9 → ×2.6 per ×4 data) trends
    // toward linear — "executors absorb it" needs a measurement, not a
    // claim. The 64M point re-measured at 32 then 16 threads in FRESH
    // sessions (fresh tables, cold cache, same code path): a
    // scan-bound job's wall tracks 1/cores (ratio ≈ 2 when cores
    // halve); a shuffle-serialization- or driver-bound one would hold
    // its wall. Runs LAST: it stops and replaces the session, so every
    // prior section is already measured.
    val coresPts =
      if (64000000L > points.max * 320) Seq.empty[Point]
      else {
        def measureAt(cpusN: Int): Double = {
          val s = Sessions.local(s"graft-scale-cores$cpusN",
            cpusN.toString)
          try {
            val n = 64000000L
            val nameMod = n * 3 / 5
            val (nodes, clusters, edges) = synTables(s, n, nameMod)
            val syn = new graft.synonymizer.Synonymizer(nodes, clusters,
              edges,
              probeJoin = graft.synonymizer.Synonymizer.ShuffleProbe(16))
            val probes = s.range(0, 100000L).select(
              when(col("id") % 2 === 0,
                concat(lit("N:"), pmod(col("id") * 7L, lit(n))))
              .otherwise(concat(lit("Name"), pmod(col("id"), lit(nameMod))))
              .as("input"))
            val (sec, _) = timeIt(s) {
              syn.normalizerResults(probes)
                .agg(sum(size(col("nodes"))).as("m"),
                     count(col("preferred_category")).as("c"))
                .collect().head.getLong(1)
            }
            sec
          } finally {
            s.stop()
            ()
          }
        }
        spark.stop()
        val s32 = measureAt(32)
        val s16 = measureAt(16)
        Seq(Point(64000000L, Seq(
          "nodes" -> "64000000",
          "probe rows" -> "100000",
          "wall @32 threads (s)" -> f"$s32%.2f",
          "wall @16 threads (s)" -> f"$s16%.2f",
          "halved-cores ratio" -> f"${s16 / s32}%.2f")))
      }

    // ---- render ------------------------------------------------------
    // both renderers are total in the point count: a small
    // SPARK_GRAFT_SCALE_POINTS override can filter a section's fixed
    // point list to <2 (or zero) entries, and the run must degrade to a
    // "skipped" note, not crash on pts.head / a 1-element sliding window
    def table(pts: Seq[Point]): String =
      if (pts.isEmpty) "_(skipped at this scale — section points all " +
        "exceed the configured max)_"
      else {
        val headers = pts.head.metrics.map(_._1)
        val rows = pts.map(_.metrics.map(_._2))
        (headers.mkString("| ", " | ", " |") ::
          headers.map(_ => "---").mkString("|", "|", "|") ::
          rows.map(_.mkString("| ", " | ", " |")).toList).mkString("\n")
      }
    def coresAdjudication(pts: Seq[Point]): String =
      if (pts.isEmpty) "_(skipped at this scale)_"
      else {
        val r = pts.head.metrics
          .find(_._1 == "halved-cores ratio").get._2.toDouble
        if (r >= 1.6)
          f"Adjudication: measured halved-cores ratio ×$r%.2f ≈ 2 — " +
          "the 64M wall is compute/scan-bound, so the near-linear " +
          "octave trend is bought back by executors at 100 TB (the " +
          "claim holds, now measured)."
        else
          f"Adjudication: measured halved-cores ratio ×$r%.2f < 1.6 — " +
          "a serialization point is holding the wall; the " +
          "executors-absorb claim does NOT hold as stated and the " +
          "bottleneck stage needs a plan audit."
      }
    def growth(pts: Seq[Point], key: String): String =
      if (pts.size < 2) "n/a (<2 points at this scale)"
      else pts.sliding(2).collect { case Seq(a, b) =>
        val va = a.metrics.find(_._1 == key).get._2.toDouble
        val vb = b.metrics.find(_._1 == key).get._2.toDouble
        f"${b.n}/${a.n} data ×${b.n.toDouble / a.n}%.0f → $key ×${vb / va}%.1f"
      }.mkString("; ")

    val md = s"""# SCALECURVE — dedup/ANN pipelines at ${points.mkString("/")} docs
       ^
       ^Generated by `tools/run.sh graft.ScaleCurve` (local[$cpus],
       ^${Runtime.getRuntime.maxMemory / (1L << 30)} GiB heap,
       ^min-of-2 timed runs, cache cleared before every timed run, JIT
       ^warmed by one untimed full pass at the smallest point). Corpora
       ^are the ScaleStressSpec generators — hash-derived tokens/vectors
       ^computed ON THE EXECUTORS, so the identical program shape drives
       ^a multi-node run. Times are single-host local[$cpus] and matter
       ^only RELATIVELY (the growth factor between points, not the
       ^absolute seconds).
       ^
       ^## 1. MinHash/LSH near-dup (`dedup_jaccard` shape)
       ^
       ^40-token docs, ~100k vocabulary, 5% planted near-dup pairs
       ^(jaccard ≈ 0.93). `TextDedup.jaccardVerified` end-to-end:
       ^shingle → minhash sig → banded LSH candidates → exact-jaccard
       ^verification.
       ^
       ^${table(jaccardPts)}
       ^
       ^Growth: ${growth(jaccardPts, "wall (s)")}.
       ^Candidates: ${growth(jaccardPts, "LSH candidates")}.
       ^
       ^The quadratic failure mode this guards against: an unbanded (or
       ^mega-bucket-unbounded) design pairs all docs — ${points.max} docs
       ^would emit ~${points.max * (points.max - 1) / 2} candidates. The
       ^band join instead keeps candidates ~ planted duplicates
       ^(cands/doc stays flat), so candidate volume AND wall time grow
       ^with the DATA, not its square.
       ^
       ^## 2. Cross-doc span dedup (`span_dedup` shape)
       ^
       ^Every doc carries a shared 10-token license-header prefix — the
       ^worst-case span population (one window hash held by the entire
       ^corpus) — plus 30 unique tokens. `TextDedup.spanStats(w=8)`.
       ^
       ^${table(spanPts)}
       ^
       ^Growth: ${growth(spanPts, "wall (s)")}.
       ^
       ^Window volume is exactly linear (33/doc); the dup-hash aggregate
       ^is a map-side-combined count on constant-width (hash, doc_id)
       ^rows, so the corpus-wide header key never concentrates span TEXT
       ^on one reducer — only its 16-byte hash counts.
       ^
       ^## 3. IVF-PQ ANN (`ann_ivfpq` shape)
       ^
       ^32-dim hash-derived vectors; cells ~ sqrt(n)/2 (the knob that
       ^must track corpus size); nProbe=8 fixed; 100 queries, top-10 by
       ^asymmetric-distance over 8×256 codebooks. Search cost per query
       ^~ n × nProbe/cells × O(m) table lookups — the probed fraction
       ^SHRINKS as cells grow, which is what keeps per-query cost
       ^sublinear in n.
       ^
       ^${table(annPts)}
       ^
       ^Growth: ${growth(annPts, "wall 100q (s)")}.
       ^
       ^### Recall ladder (corpus ${recallRows._1}, ${recallRows._2} cells,
       ^100 queries, vs exact brute-force top-10)
       ^
       ^IVF re-ranks candidates by exact cosine, so its recall is pure
       ^probe coverage; IVF-PQ ranks by quantized ADC distance, so its
       ^ceiling is the 8×256 codebook resolution — the gap between the
       ^two columns IS the quantization cost, and the rows price recall
       ^in probed fraction. Hash-uniform vectors are ANN's adversarial
       ^case (no cluster structure, so true neighbors spread across
       ^cells near-uniformly and probe coverage ≈ recall): read these as
       ^FLOOR numbers — clustered real embeddings concentrate neighbors
       ^into the probed cells and sit far above this line at equal cost.
       ^
       ^${table(recallRows._3)}
       ^
       ^## 4. Dictionary NER (the reference's flagship path)
       ^
       ^The scispaCy-linker re-specification: sentence gates → n-gram
       ^mention explode (native NGramsExpr) → equi-join against a
       ^10k-term synonymizer dictionary → longest-wins per (doc, curie).
       ^Each doc plants exactly ONE dictionary term, so matches == docs
       ^is exact-recall evidence and the candidate-mention volume is the
       ^honest explode cost (~120 n-grams/doc, deduped per sentence
       ^before the join).
       ^
       ^${table(nerPts)}
       ^
       ^Growth: ${growth(nerPts, "wall (s)")}.
       ^
       ^### 4b. Shuffle-hash dictionary (the real-KG2-scale path)
       ^
       ^Same pipeline, 1M-term dictionary, `dictBuild = ShuffleHashDict`
       ^— the distribution the Auto heuristic picks when the dictionary
       ^is too big to broadcast. The dictionary hash table builds
       ^per-partition and the mention stream probes it without ever
       ^being sorted or collected (PlanShapeSpec asserts the
       ^ShuffledHashJoin with the dictionary as build side); AQE handles
       ^mention-key skew. Match rate 1.000 = exact recall against the
       ^planted terms through the distributed join.
       ^
       ^${table(nerShufflePts)}
       ^
       ^Growth: ${growth(nerShufflePts, "wall (s)")}.
       ^
       ^### 4c. External-model adapter (ModelNer, U1 escape hatch)
       ^
       ^The mapPartitions-hosted model adapter running the deterministic
       ^dictionary double at batchSize=256: `model opens` counts
       ^open() calls (exactly one per sentence-stage partition — the
       ^per-partition handle contract), `sents/call` shows the batch
       ^amortization (≥100× fewer model calls than sentences — never
       ^per-row). `matches` equals docs: the adapter path reproduces the
       ^dictionary matcher's exact recall through the candidate →
       ^canonicalization join.
       ^
       ^${table(adapterPts)}
       ^
       ^Growth: ${growth(adapterPts, "wall (s)")}.
       ^
       ^### 4c-ens. Ensemble: five providers share one sentence pass
       ^
       ^The reference hosts FIVE scispaCy pipelines over the same corpus
       ^(perform_NER.py:79-99). The adapter runs any ensemble inside the
       ^ONE mapPartitions pass — each batch is handed to every provider
       ^in turn — and all providers' raw output flows through the SAME
       ^single canonicalization join and longest-wins merge. `model
       ^opens` scales with k (one handle per provider per partition);
       ^`linkBatch calls` scales with k (each model sees each batch);
       ^sentence-stage passes and joins do NOT. Wall therefore grows
       ^with per-model inference only — far below k× when the model is
       ^not the bottleneck — and `matches` is identical (the merge
       ^dedups the agreeing providers).
       ^
       ^${table(ensemblePts)}
       ^
       ^## 5. Synonymizer canonical-curie lookup (name path)
       ^
       ^The reference's core query (get_canonical_curies by name): probe
       ^batches of 5k/50k/200k names against a 1M-node / 500k-cluster
       ^synonymizer where 2/3 of the name keys resolve through the
       ^argmax-across-competing-clusters path. The probe side broadcasts
       ^(the API's bounded-batch contract); the node table streams
       ^through one broadcast join + two-level aggregation — probe batch
       ^size, not node-table size, is what the wall time tracks.
       ^
       ^${table(synPts)}
       ^
       ^Growth: ${growth(synPts, "wall (s)")}.
       ^
       ^### 5b. Name path under Zipf skew (ShuffleProbe, r15)
       ^
       ^The corpus-mined shape the broadcast contract excludes: probe
       ^rows scale WITH the node table (1M/4M/16M), and one
       ^"aspirin"-grade simplified name holds ~1% of both the probe
       ^rows and the NODE rows. The run uses
       ^`Synonymizer.ShuffleProbe(16)` — the salted shuffled name join:
       ^node rows hash into 16 buckets by id, probe names replicate
       ^across them, so the hot name's node rows spread over 16 tasks
       ^deterministically. The named mitigation is the SALT, not AQE:
       ^the hot key's joined bytes at 16M nodes (~160k rows ≈ 16 MB)
       ^sit two orders of magnitude below AQE's 256 MB
       ^skewedPartitionThresholdInBytes floor, so the skew split never
       ^engages at any measured point — and a salt keeps working at the
       ^scale where it would. `hot resolved` = 1 pins that the skewed
       ^name still resolves through the argmax (smallest cluster on the
       ^all-ties fixture); resolve totals are exact.
       ^
       ^${table(synSkewPts)}
       ^
       ^Growth: ${growth(synSkewPts, "wall (s)")}.
       ^
       ^Reading the 5b growth: unlike §5 (fixed 1M-node table, probe
       ^batch alone grows), BOTH join sides quadruple per octave here —
       ^nodes, probes, and the salted probe replication are all ∝ n, so
       ^per-octave work is ×4 on fixed cores and the measured sub-×4
       ^per-octave growth (see the factors above) means the job is
       ^still partly fixed-cost-bound, not super-linear. The salt's 16× replication applies to the
       ^DISTINCT-name frame only (0.6n rows), never the raw probe rows;
       ^at real-KG shapes (probes ≫ distinct names) that constant
       ^shrinks relative to the bulk. At 100 TB the lever is executors —
       ^every stage here is an equi-join or map-side-combined aggregate
       ^with no per-key serialization point left.
       ^
       ^### 5c. normalizerResults octaves (r16; 64M octave r17)
       ^
       ^The WIDEST query of the family (get_normalizer_results:
       ^curie-else-name fallback resolve, full member-node detail
       ^arrays, per-category histograms, rep-category join) — a fixed
       ^100k-probe batch against a KG growing 1M → 64M nodes, in
       ^ShuffleProbe mode (at 64M nodes the clusters member frame is
       ^32M array rows — past any sane broadcast, exactly the regime
       ^the mode exists for). Half the probes resolve as curies, half as
       ^names through the fallback retry, so both resolve paths are on
       ^the measured path; the timer aggregates over the assembled
       ^member arrays and the rep-category column so Catalyst cannot
       ^prune the expensive assembly (the §12 count-prune lesson).
       ^
       ^${table(synNormPts)}
       ^
       ^Growth: ${growth(synNormPts, "wall (s)")}.
       ^
       ^With the probe batch fixed, the KG-side work (node scans for
       ^the two resolve paths + member join + rep join, clusters
       ^shuffle) grows ∝ n while the probe-side aggregations stay
       ^constant — sub-×4 per ×4 octave says the job is scan-bound,
       ^which executors absorb.
       ^
       ^### 5c-cores. Executors-absorb, measured (r17 #4)
       ^
       ^The octave trend (×1.2 → ×1.9 → ×2.6 per ×4 data) drifts
       ^toward linear, so "executors absorb it" is adjudicated by a
       ^cores-scaling measurement instead of asserted: the 64M point
       ^re-run at 32 then 16 threads in fresh sessions (fresh tables,
       ^cold cache, identical code path). A halved-cores ratio near 2
       ^means the wall is compute/scan-bound — the work parallelizes,
       ^so added executors buy the same factor at 100 TB; a ratio near
       ^1 would mean a serialization point (driver, single partition,
       ^skewed key) that executors cannot buy back.
       ^
       ^${table(coresPts)}
       ^
       ^${coresAdjudication(coresPts)}
       ^
       ^## 6. Connected components (near-dup pairs → dedup clusters)
       ^
       ^Phase-1 min-label propagation over planted 4-vertex PATH groups
       ^— diameter 3, so the loop must run real propagation rounds (the
       ^quasi-clique graphs real dedup produces converge faster). Each
       ^round is one keyed join + aggregation; `mislabeled` counts
       ^vertices whose final component differs from the arithmetic
       ^ground truth (must be 0).
       ^
       ^${table(compPts)}
       ^
       ^Growth: ${growth(compPts, "wall (s)")}.
       ^
       ^### 6b. Adversarial long path (phase-2 large-star/small-star)
       ^
       ^A single XOR-permuted path over ALL vertices — diameter n-1,
       ^the shape where pure propagation needs n rounds. After the
       ^4-round propagation budget, the edge list contracts to the label
       ^graph and the alternating large-star/small-star phase closes it
       ^in O(log² n) rounds — wall time grows with log-rounds × linear
       ^shuffles, not with the diameter. `mislabeled` counts vertices
       ^whose component is not the global min (must be 0).
       ^
       ^${table(pathPts)}
       ^
       ^Growth: ${growth(pathPts, "wall (s)")}.
       ^
       ^## 7. DrugBank two-stage composite (Stage1 → Stage2)
       ^
       ^The reference's full pipeline — synonymizer alignment, both NER
       ^dictionary passes, stage-2 name/id mining and first-wins merge —
       ^over a distributed corpus with exact planted truths: every drug
       ^plants its own name + one shared term in the mech map (2n),
       ^even drugs plant a disease in BOTH maps (+n/2 each), every 4th
       ^mines a bioentity name (+n/4), every 8th a bare UniProt id
       ^(+n/8). The reference corpus is ~17.4k drugs; the 102k point is
       ^~6× that. Stage boundaries materialize once per run
       ^(Sinks.stageBoundary — PlanShapeSpec guards the plan shape).
       ^`planted ok` requires records == n AND both map-entry totals to
       ^hit their closed-form expectations exactly.
       ^
       ^${table(drugPts)}
       ^
       ^Growth: ${growth(drugPts, "wall (s)")}.
       ^
       ^## 8. Incremental ingest: per-batch flag cost vs corpus age
       ^
       ^The steady-state ingest question (`DocsStream.flagBatch`): does
       ^flagging ONE fixed 10k-doc batch get slower as the accumulated
       ^corpus grows 16×? `wall text` is the text-recomputing
       ^`incrementalNearDups` — it re-shingles the WHOLE history every
       ^batch, O(corpus age) CPU per batch. `wall indexed` is
       ^`incrementalNearDupsIndexed` (what flagBatch now runs): candidate
       ^generation reads the persistent (doc_id, band) index written at
       ^ingest time, pruned FIRST by a broadcast semi-join on the batch's
       ^own band set (so the bucket-cap window shuffles only matched
       ^bands, never the full index), and history text is re-shingled
       ^only for MATCHED candidates via a broadcast semi-join of the
       ^candidate id set.
       ^Both flag the identical planted truth — half the batch near-dups
       ^a history doc — so the flagged columns double as exact-recall
       ^evidence.
       ^
       ^${table(ingestPts)}
       ^
       ^Growth: text ${growth(ingestPts, "wall text (s)")};
       ^indexed ${growth(ingestPts, "wall indexed (s)")}.
       ^
       ^## 9. Streaming IVF ingest: per-batch cost vs history size
       ^
       ^The steady-state vector-ingest question (`VecsStream.ivfIngest`):
       ^does landing ONE fixed 20k-vector batch — map-side assignment
       ^against the frozen 64-cell index plus the per-cell refit
       ^advisory — get slower as the indexed history grows 16×?
       ^`wall recompute` rebuilds the history's per-cell error profile
       ^from the lists table every batch — it rescans the whole history
       ^(an O(history) I/O term, though on this host's local NVMe the
       ^rescan stays under the fixed per-batch overhead even at 2.56M
       ^vectors, so its wall clock reads flat too); `wall frozen`
       ^compares against the k-row offline profile artifact, which is
       ^what `ivfIngestBatch` actually receives — structurally O(batch),
       ^ZERO history reads per batch, which is the term that matters
       ^when the lists table is 100 TB of object-store parquet rather
       ^than local cache. The in-distribution batch keeps `drifted
       ^cells` at zero (the planted twins sit inside history cells), so
       ^the advisory's quiet state doubles as a correctness check.
       ^
       ^${table(ivfIngPts)}
       ^
       ^Growth: recompute ${growth(ivfIngPts, "wall recompute (s)")};
       ^frozen ${growth(ivfIngPts, "wall frozen (s)")}.
       ^
       ^## 10. Fixed-point PageRank (`pagerank` shape)
       ^
       ^Ring-stride graphs (3 hash-stride out-links per vertex,
       ^executor-generated), 4 iterations of
       ^`Graph.pageRankFixedPoint`. Each iteration = one join of the
       ^once-hashed (src, dst, deg) frame against the rank vector + one
       ^groupBy(dst); only the rank vector re-shuffles. `layout-
       ^invariant` re-runs the whole job on a differently-partitioned
       ^edge list and compares a full (id, rank) fingerprint — the
       ^integer fixed point must reproduce identical BITS, which is the
       ^property that makes iterative centrality verifiable (and its
       ^backfills reproducible) at any cluster size. `wall walks` times
       ^`Graph.deterministicWalks` (2 walks/start × 3 steps — one keyed
       ^join per step), i.e. the corpus-as-ARTIFACT job that
       ^materializes all steps·walks·|V| rows; `wall fused pairs` times
       ^`Graph.walkSkipGramPairs` (r15) — the same picks fused with the
       ^window-2 skip-gram count, where the corpus never materializes
       ^and there is no self-join (the walk_pairs demo's actual job);
       ^`wall biased walks` adds the node2vec
       ^return/stay/explore weight fold (1/2/4) and a second keyed
       ^probe of the persisted adjacency for prev's distance-1 array
       ^(r12 — cheaper than storing the array per frontier row, see
       ^the storage note below); `wall fused biased` is the SAME
       ^weight fold fused with the pair count
       ^(`Graph.walkSkipGramPairsBiased`, r15) — the biased corpus
       ^never materializes either. Its overhead over `wall fused
       ^pairs` is NOT a constant factor on fixed cores: the per-step
       ^prev-adjacency probe and weight fold scale with frontier ×
       ^degree, so the measured ratio varies across the curve (compare
       ^the two wall columns per row) — what the fusion claims, and what
       ^the per-octave growth factors below pin, is the ABSENCE of
       ^the storage-bound corpus regime, not bias-for-free;
       ^`wall labelprop`
       ^times 3 synchronous rounds of
       ^`Graph.labelPropagation` from ~14% seeds (5 classes) — both
       ^over the same graphs.
       ^
       ^${table(prPts)}
       ^
       ^Growth: ${growth(prPts, "wall 4 iters (s)")}.
       ^Walks: ${growth(prPts, "wall walks (s)")}.
       ^Fused pairs: ${growth(prPts, "wall fused pairs (s)")}.
       ^Biased walks: ${growth(prPts, "wall biased walks (s)")}.
       ^Fused biased: ${growth(prPts, "wall fused biased (s)")}.
       ^Label propagation: ${growth(prPts, "wall labelprop (s)")}.
       ^
       ^The WALK rows (steps·walksPerStart·|V|, 51.2M at 6.4M
       ^vertices — 8 rows per vertex, more than any other §10 job
       ^materializes) made the r14 corpus-ARTIFACT octave storage-bound
       ^(MemoryStore "not enough space to cache" + task-page retries,
       ^×5.6 wall per ×4 data). r15 removes that regime twice over: the
       ^skip-gram PIPELINE no longer materializes the corpus at all
       ^(walkSkipGramPairs keeps only ≤window-array frontiers plus the
       ^aggregated pair frame — its last octave is the pair count's
       ^shuffle volume on fixed cores, the regime executors absorb),
       ^and re-measured at the 24 GiB runner heap even the artifact job
       ^logs zero evictions (ProfileWalkFuse greps the run log) — its
       ^last octave is back to join-shaped growth. r12 removed the
       ^biased walker's extra storage term (frontiers carried prev's
       ^adjacency array per row — r11's last octave ran ×6.0 per ×4
       ^data; four-long frontier rows + a second keyed probe of the
       ^persisted adjacency brought it level with the uniform walker's
       ^growth). Per-executor storage is exactly what a real cluster
       ^scales out; the shuffle/join COUNT stays fixed per step at
       ^every point, which is the property these curves pin.
       ^
       ^## 11. Triangles + link prediction (`graph_triangles` shape)
       ^
       ^Same ring-stride graphs. `Graph.triangleCounts` orients every
       ^undirected edge from its (degree, id)-smaller endpoint, so the
       ^wedge self-join — the quadratic step of any exact triangle
       ^count — fans out at most O(√m) per vertex, O(m^1.5) total, no
       ^matter how skewed the raw degrees; `layout-invariant` re-runs
       ^on a differently-partitioned edge list and compares a full
       ^(id, triangles) fingerprint. `wall linkpredict` times
       ^`Graph.linkCandidates` (degree-capped common-neighbor pairs,
       ^integer inverse-degree weights, anti-join, TakeOrdered top-50)
       ^over the same graphs. Its r13 last octave was ×4.1 — explained
       ^and fixed in r14: the wedge self-join fans each probe row out
       ^by its degree, so partitions AQE had sized to the probe frame's
       ^own bytes owned multi-GB wedge slices and the pair aggregates
       ^spilled ~31 GB at 19M edges. The operator now scopes an
       ^expansion-sized
       ^partitioning (256 initial partitions + 8 MB advisory) around
       ^its own materialization above
       ^${graft.extensions.Graph.expansionEngageEdges / (1L << 20)}M
       ^canonical edges (the shared Graph.expansionEngageEdges gate,
       ^interpolated here so this prose cannot drift); the remaining
       ^last-octave growth is spill-free shuffle volume (×4 bytes) on
       ^fixed single-host cores — the regime a real fleet absorbs by
       ^adding executors.
       ^
       ^`wall kcore` times the 4-round k=4 vertex peel on the same
       ^graphs (thin agg+anti-join rounds, lazily chained with cut-block
       ^convergence); `wall ktruss` times a 2-round k=6 EDGE peel + the
       ^final support pass on a circulant C_n(1..4), where the peel
       ^genuinely cascades (the ring-stride graph is triangle-poor, so
       ^an edge-support peel over it measures nothing). Each cascade
       ^round drops ~m/4 edges — mass extinction by construction — so
       ^the r13 adaptive rule (delta support maintenance only when
       ^4|D| <= survivors) correctly re-enumerates every round here:
       ^this curve measures the full-enumeration regime. `wall ktruss
       ^sparse` adds n/64 near-zero-support chords to the same
       ^circulant and peels at k=5: ONLY the chords drop, the round is
       ^sparse, and support maintenance routes through the
       ^decrementSupport delta (one full enumeration + an O(m + |D|·deg)
       ^update instead of two more enumerations) — the long-tail regime
       ^the delta path exists for. Both run localCutoff = 0 (the driver
       ^fast path would swallow the smallest points).
       ^
       ^${table(triPts)}
       ^
       ^Growth: ${growth(triPts, "wall triangles (s)")}.
       ^Link prediction: ${growth(triPts, "wall linkpredict (s)")}.
       ^k-core: ${growth(triPts, "wall kcore (s)")}.
       ^k-truss: ${growth(triPts, "wall ktruss (s)")}.
       ^k-truss sparse-peel: ${growth(triPts, "wall ktruss sparse (s)")}.
       ^
       ^## 12. Lloyd k-means + SemDeDup (`kmeans_*` / `semdedup_prune` shape)
       ^
       ^Deterministic Lloyd over the §3 vector corpora (d=32, planted
       ^×1.0005 twins). The flops of training/assignment (n·k·d per
       ^round) are pure MAP work — the centroid matrix rides the codegen
       ^references of ONE native kernel call (NearestCentroid, task
       ^binary flat in k) and the work scales out with executors. What
       ^must stay bounded is the SHUFFLE, and it is: the per-round
       ^centroid update exchanges k·d fixed-point keys (8,192 at k=256,
       ^d=32) regardless of corpus size, map-side-combined from the
       ^posexploded dims. Fixed k=256, 2 rounds ("inertia monotone" is
       ^the Lloyd invariant on the quantized longs, allowing the
       ^±n·1e-6 fixed-point slack):
       ^
       ^${table(kmPts)}
       ^
       ^Growth: ${growth(kmPts, "wall train (s)")}.
       ^Assignment: ${growth(kmPts, "wall assign (s)")}.
       ^
       ^SemDeDup (within-cluster duplicate search) runs the OTHER k
       ^regime: k grows with n so the average cell stays ~512 vectors
       ^and the pair-join candidate volume stays ∝ n·cell (the paper's
       ^own argument for why within-cluster search beats the n² scan).
       ^The shuffle is one cell-keyed exchange of the vectors
       ^(ReusedExchange ships them once); the quadratic term is
       ^per-cell, paid as map-side dot products:
       ^
       ^${table(sdPts)}
       ^
       ^Growth: ${growth(sdPts, "wall pairs (s)")};
       ^pair volume: ${growth(sdPts, "dup pairs")};
       ^exact assign: ${growth(sdPts, "wall assign exact (s)")};
       ^routed assign: ${growth(sdPts, "wall assign routed (s)")}.
       ^
       ^The routed-pairs columns run the SAME within-cell search over
       ^ROUTED cell membership (`semdedup_prune_framed`'s candidate
       ^generator): "routed twin recall" next to "twin recall" is the
       ^measured cost of the nProbe=1 trade on the prune pipeline — a
       ^planted twin is lost iff routing splits the pair across cells
       ^where exact assignment co-located it.
       ^
       ^The last two columns measure the large-k assignment trade on
       ^the SAME trained model: exact argmin is n·k·d flops (k grows
       ^with n here, so the wall grows superlinearly), the two-level
       ^route (`Kmeans.Assigner.Routed`, ~√k supers) is ~n·2√k·d — the
       ^production path once k reaches the thousands, at the documented
       ^deterministic nProbe=1 approximation.
       ^
       ^### 12b. Frame-resident assignment at k = 10,000 (r16)
       ^
       ^A routed path that COLLECTS all k centroids to the driver and
       ^embeds them across √k plan branches is fine at k in the
       ^thousands and a hard wall at the SemDeDup regime (k≈2M, d=768
       ^is tens of GB of driver state). Here the ceiling is gone:
       ^training is `Kmeans.lloydFramed` (centroids live in a
       ^(cluster, cv) frame between rounds; the driver holds only the
       ^100 super sums = 3,200 doubles, never the 320,000 the literal
       ^path would), and assignment is `Assigner.Routed` — map-side route
       ^over 100 super literals, then ONE 1:1 equi-join on `super`
       ^against the member table pre-grouped into a sorted per-super
       ^centroid ARRAY, with the argmin a map-side `NearestCentroidIn`
       ^kernel fold over that array: no row expansion and NO
       ^aggregation operator anywhere (the first cut exploded n·k/√k
       ^candidate rows and re-grouped them — `min(struct)` can't
       ^hash-aggregate, so Spark sorted them in a SortAggregate;
       ^PlanShapeSpec pins the shipped no-aggregation shape). The
       ^`kmeans_assign_framed` oracle replays the decision
       ^bit-for-bit.
       ^
       ^${table(kmFramedPts)}
       ^
       ^Train: ${growth(kmFramedPts, "wall train framed (s)")};
       ^assign: ${growth(kmFramedPts, "wall assign framed (s)")}.
       ^
       ^### 12c. Three-level framed assignment at k = 100,000 (r17)
       ^
       ^The next ceiling after driver state is the member-array ROW:
       ^the two-level path packs k/nSupers member centroids into ONE
       ^array row per super — ~316 members here, ~9 MB rows and a
       ^~17 GB join payload at the SemDeDup regime (k≈2M, d=768).
       ^`framedRoutingFor3` adds a mid level (per-super anchors, one
       ^fixed-point update round, re-assignment — the same
       ^train-then-assign recipe one level down), bounding every joined
       ^array row at ~k^(1/3) members on average and cutting
       ^assignment flops from n·(s + k/s)·d to ~n·3·k^(1/3)·d — which
       ^is why the 3-level assign wall beats the 2-level one outright
       ^below (the leaf max shows one-update-round skew on
       ^uniform-random data; at the 2M regime the BYTES bound is the
       ^k^(1/3) scaling of the average, ~774 KB vs ~9 MB rows).
       ^
       ^Quality, measured two ways on the same assignment frames. The
       ^operative metric is planted-TWIN CO-LOCATION: SemDeDup only
       ^needs near-identical vectors to land in the SAME cell for the
       ^within-cell search to see the pair, and routing is a
       ^deterministic function of the vector, so the ×1.0005 twins
       ^co-locate at (or near) 1.00 per level. The cross-hierarchy
       ^agreement column is reported for honesty and is expected LOW:
       ^it compares two DIFFERENT nProbe=1 partitions (316 supers vs
       ^46×46) of unstructured uniform-random vectors — the
       ^quantization worst case, where thousands of centroids sit
       ^near-equidistant from any query and two routings rarely pick
       ^the same near-arbitrary argmin. (`kmeans_assign_framed3`'s
       ^oracle replays the full three-level decision bit-for-bit.)
       ^The nProbe=2 columns are the r17 #3 recovery knob
       ^(`Assigner.Routed3(routing, nProbe)` — top-2 supers, top-2 mids per
       ^probed super via the frame-resident NearestCentroidsIn kernel,
       ^≤4 leaf slots, map-side least): with BOTH hierarchies probing
       ^their second-nearest cells the two different partitions
       ^converge toward the same decision, so the agreement lift over
       ^the nProbe=1 column is the measured recovery, at ~2× the
       ^3-level assign wall (`kmeans_assign_framed3p2`'s oracle
       ^replays the probed decision bit-for-bit).
       ^
       ^${table(kmFramed3Pts)}
       ^
       ^2-level assign: ${growth(kmFramed3Pts, "wall assign 2-level (s)")};
       ^3-level assign: ${growth(kmFramed3Pts, "wall assign 3-level (s)")}.
       ^
       ^### 12d. Dense-cell cap under a planted mega-cell (r17)
       ^
       ^One Zipf-mass cell — 10,000 IDENTICAL embeddings, the
       ^mass-duplicated-boilerplate crawl pathology — makes the
       ^within-cell search quadratic: C(10k, 2) ≈ 50M cosine pairs in
       ^ONE task (the cell is one partition after the cluster
       ^co-location). `Kmeans.pairsOf`'s cap (default 10,000 members)
       ^star-reduces the cell: every member pairs with the cell's
       ^smallest id only — linear, connectivity preserved for the
       ^components step, keep rule unchanged (ExtensionsSpec pins
       ^survivor equality). The uncapped column is the counterfactual
       ^the cap exists to avoid.
       ^
       ^${table(sdCapPts)}
       ^
       ^## 13. BPE id-domain training (`bpe_merges_ids` shape)
       ^
       ^Tokenizer induction in the production formulation: ONE
       ^corpus-scale aggregation builds the distinct-word frequency
       ^table (pair statistics are a pure function of word-type
       ^counts), then every merge round — pair count, argmax, fuse —
       ^runs on that bounded table with a native one-call merge apply
       ^(BpeApplyMerges). Two claims measured on a 5,000-word 6-letter
       ^synthetic vocabulary: per-round wall is FLAT in the round
       ^number through a 128-round budget (far past the string-domain
       ^26-placeholder ceiling — all 128 rounds find winners), and flat
       ^in the CORPUS size (the ×4 octave moves only the one-time
       ^frequency-table wall; rounds never re-read the corpus — the
       ^string-domain `mergeTable` re-read it every round).
       ^
       ^${table(bpePts)}
       ^
       ^Freq table: ${growth(bpePts, "wall freq table (s)")};
       ^per-round (late): ${growth(bpePts, "ms/round late (33-128)")}.
       ^
       ^### 13b. Vocab-scale trainer (r17 #1): thousands of merges, 2 Spark jobs
       ^
       ^A REAL tokenizer vocabulary (32k–50k merges) is unreachable for
       ^the per-round-job trainer: r sequential driver round-trips, each
       ^re-applying all prior merges (O(r²) total application). The
       ^vocab-scale trainer (`Bpe.collectMergesIdsFast`) splits at the
       ^sufficient statistic — the SAME distributed word-frequency
       ^aggregation (the only data-sized cost), then the classic
       ^incremental Sennrich loop on the driver: pair-count deltas over
       ^affected words only, zero Spark jobs per merge. Bit-equality
       ^with the sequential trainer is pinned by ExtensionsSpec and by
       ^the `bpe_merges_fast` oracle row (the DuckDB oracle replays the
       ^SEQUENTIAL induction). Corpus here: 200k distinct 10-letter
       ^word types — 8,192 merges all find winners.
       ^
       ^${table(bpeFastPts)}
       ^
       ^## Reading the curves at 100 TB
       ^
       ^- LSH: `bandBits`/`bands` must track log2(corpus) (TextDedup
       ^  scaladoc) — these runs hold the sf-registry defaults and stay
       ^  candidate-bounded through 40× growth.
       ^- Span dedup: raise `sample` (content-defined winnowing) to shed
       ^  window volume linearly once the token stream, not the band
       ^  join, is the bottleneck.
       ^- IVF-PQ: grow `cells` with sqrt(n); the corpus side of the probe
       ^  join carries (id, cell, codes[8]) only — the raw-vector payload
       ^  never shuffles (PlanShapeSpec guard).
       ^- k-means/SemDeDup: k is a model choice, not a shuffle cost — the
       ^  update exchange is k·d keys and assignment is map-only, so the
       ^  wall is flops-bound and scales out with executors. For SemDeDup
       ^  grow k ∝ n (constant cell size) to keep the pair join linear.
       ^""".stripMargin('^')

    Files.writeString(Paths.get(out), md)
    println(md)
    spark.stop()
  }
}
