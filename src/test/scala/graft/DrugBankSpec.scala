package graft

import org.apache.spark.sql.Row
import graft.drugbank.{DrugBank, Sinks, Stage1, Stage2}
import graft.ner.DictionaryNer
import graft.stage2.IdentifierAlignment

/** B2 golden end-to-end (FIXTURES.md): mini DrugBank XML (3 drugs hitting
  * every dict-or-list branch of utils.py:81-84, 142-168, 176-200) through
  * stage 1 + stage 2 against the B1 synonymizer fixture.
  */
class DrugBankSpec extends SparkTestBase {

  private val xmlPath = "src/test/resources/drugbank_mini.xml"
  private lazy val drugs = DrugBank.readXml(spark, xmlPath)
  private lazy val syn = TestFixtures.synonymizer(spark)
  private lazy val recs = DrugBank.records(drugs, syn).cache()

  private def rec(kg2Id: String): Row =
    recs.filter(org.apache.spark.sql.functions.col("kg2_id") === kg2Id)
      .collect().head

  test("XML scan: fixed ArrayType schema normalizes dict-or-list (P14)") {
    assert(drugs.count() == 3)
    val ids = drugs.selectExpr("transform(`drugbank-id`, x -> x._VALUE)")
      .collect().map(_.getSeq[String](0))
    assert(ids.map(_.head).toSet == Set("DB00945", "DB11111", "DB99999"))
    assert(ids.exists(_.length == 2)) // drug 2's list branch
  }

  test("records: unresolvable drug is dropped; ids resolve via DRUGBANK:") {
    val ids = recs.select("kg2_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("CHEBI:15365", "CHEBI:777"))
  }

  test("records: drug 1 fields, crawls, pathway prefixes") {
    val r = rec("CHEBI:15365")
    assert(r.getAs[String]("name") == "Aspirin")
    assert(r.getAs[String]("category") == "biolink:SmallMolecule")
    assert(r.getAs[String]("drug_bank_id") == "DB00945")
    val targets = r.getAs[Row]("targets")
    assert(targets.getSeq[String](0).toSet ==
      Set("Prostaglandin G/H synthase 1", "PTGS1"))
    assert(targets.getSeq[String](1).toSet == Set("BE0000394", "P23219"))
    val pathways = r.getAs[Row]("pathways")
    assert(pathways.getSeq[String](0) == Seq("SMPDB:SMP00083"))
    assert(pathways.getAs[Row](1).getSeq[String](0) ==
      Seq("UniProtKB:P23219", "UniProtKB:P35354"))
  }

  test("records: drug 2 polypeptide list + duplicate-name dedup (A3)") {
    val r = rec("CHEBI:777")
    val targets = r.getAs[Row]("targets")
    assert(targets.getSeq[String](0) ==
      Seq("Shared Target Name", "Peptidoglycan D,D-transpeptidase FtsI",
          "Hypothetical protein", "ftsI", "hypA"))
    assert(targets.getSeq[String](1).toSet ==
      Set("BE0001111", "BE0002222", "P45059", "Q00001"))
    assert(r.getAs[Row]("pathways").getSeq[String](0).toSet ==
      Set("SMPDB:SMP00001", "SMPDB:SMP00002"))
    assert(r.isNullAt(r.fieldIndex("indication")))
  }

  private lazy val stage1 = Stage1.run(
    drugs, syn,
    new DictionaryNer(TestFixtures.nodesDf(spark),
                      TestFixtures.clustersDf(spark))).cache()

  test("stage 1: indication NER (3 categories) + empty-map default") {
    val byId = stage1.collect()
      .map(r => r.getAs[String]("kg2_id") -> r).toMap
    val asp = byId("CHEBI:15365")
    val ind = asp.getMap[String, Row](asp.fieldIndex("indication_NER_aligned"))
    assert(ind.keySet == Set("MONDO:0004979"))
    assert(ind("MONDO:0004979").getString(0) == "asthma")
    // drug 2 has no indication → empty map, not null
    val d2 = byId("CHEBI:777")
    assert(d2.getMap[String, Row](
      d2.fieldIndex("indication_NER_aligned")).isEmpty)
  }

  test("stage 1: mechanistic NER across concatenated text fields") {
    val byId = stage1.collect()
      .map(r => r.getAs[String]("kg2_id") -> r).toMap
    val asp = byId("CHEBI:15365")
    val mech = asp.getMap[String, Row](
      asp.fieldIndex("mechanistic_intermediate_nodes"))
    // PBP3 (Protein, mechanism-of-action), asthma (Disease, indication),
    // aspirin itself (description — bracket text removed first)
    assert(mech.contains("UniProtKB:P45059"))
    assert(mech.contains("MONDO:0004979"))
    assert(mech.contains("CHEBI:15365"))
    // d2's mechanism mentions "aspirin-like" → after punct strip the
    // 1-gram "aspirin-like" does not simplify to a dictionary name; but
    // "aspirin" appears via DrugTwo's own cluster name "drugtwo"? — no:
    // assert d2 resolves its own matches without error.
    assert(byId.contains("CHEBI:777"))
  }

  test("stage 2: names+ids mined, aligned, first-wins merged") {
    val out = Stage2.run(stage1, new IdentifierAlignment(syn)).cache()
    val byId = out.collect().map(r => r.getAs[String]("kg2_id") -> r).toMap
    val d2 = byId("CHEBI:777")
    val mech = d2.getMap[String, Row](
      d2.fieldIndex("mechanistic_intermediate_nodes"))
    // P45059 arrives via target polypeptide id (UniProt detector R1)
    assert(mech.contains("UniProtKB:P45059"))
    // SMPDB:-prefixed pathway ids skipped by the ':' gate → no pathway node
    assert(!mech.keySet.exists(_.startsWith("SMPDB")))
    val asp = byId("CHEBI:15365")
    val aspMech = asp.getMap[String, Row](
      asp.fieldIndex("mechanistic_intermediate_nodes"))
    // stage-1 NER entry for PBP3 (mention "PBP3") must win over stage-2's
    // preferred-name value for the same curie (first-wins)
    assert(aspMech("UniProtKB:P45059").getString(0) == "PBP3")
  }

  // every column, maps as sorted entry lists: a sink round-trip need not
  // keep map key order (and maps cannot be compared by except)
  private def canon(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, map_entries, sort_array}
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          sort_array(map_entries(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  test("stage 2 via parquet checkpoint (S4 restart boundary) matches " +
       "the in-memory composition row for row") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s2-ckpt").toString + "/stage1"
    val direct = Stage2.run(stage1, new IdentifierAlignment(syn))
    val viaCkpt = Stage2.runCheckpointed(
      stage1, new IdentifierAlignment(syn), dir)
    assert(canon(viaCkpt).except(canon(direct)).isEmpty &&
           canon(direct).except(canon(viaCkpt)).isEmpty)
    assert(viaCkpt.count() == direct.count())
  }

  test("each DrugBank stage's output is materialized once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val s1 = Stage1.run(drugs, syn,
      new DictionaryNer(TestFixtures.nodesDf(spark),
                        TestFixtures.clustersDf(spark)))
    val s2 = Stage2.run(s1, new IdentifierAlignment(syn))
    val outputs = Seq("stage1" -> s1, "stage2" -> s2)
    // the helper walks into AQE's current plan and its query stages
    object Plans extends AdaptiveSparkPlanHelper
    def exchanges(p: SparkPlan) = Plans.collect(p) {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    }
    for ((name, df) <- outputs)
      assert(exchanges(df.queryExecution.executedPlan).isEmpty,
        s"$name output must be a materialized leaf, got:\n" +
          df.queryExecution.executedPlan)

    // both sinks of both stages scan the stage's blocks: no stage tail
    // re-runs, so no task writes shuffle bytes. Only the sink jobs (one
    // job group) are counted.
    val group = "drugbank-sinks"
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.add(j.jobId)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "stage sinks")
      for ((name, df) <- outputs) {
        Sinks.writeJson(df, s"$tmp/$name.json")
        Sinks.writeCheckpoint(df, s"$tmp/$name.parquet")
      }
      sc.clearJobGroup()
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.nonEmpty)
      // task-end events precede their job's end event on the bus
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(jobs.forall(ended.contains))
      }
    } finally sc.removeSparkListener(listener)
    assert(shuffleBytes.get == 0L,
      s"the four sinks wrote ${shuffleBytes.get} shuffle bytes")
  }

  test("each stage's JSON sink and parquet checkpoint hold the same rows") {
    val s1 = stage1
    val s2 = Stage2.run(s1, new IdentifierAlignment(syn))
    val tmp = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    for ((name, df) <- Seq("s1" -> s1, "s2" -> s2)) {
      Sinks.writeJson(df, s"$tmp/$name.json")
      Sinks.writeCheckpoint(df, s"$tmp/$name.parquet")
      // read with the stage's schema: inference would turn the maps
      // into structs keyed by curie
      val json = canon(spark.read.schema(df.schema).json(s"$tmp/$name.json"))
      val parquet = canon(Sinks.readCheckpoint(spark, s"$tmp/$name.parquet"))
      assert(json.count() == df.count() && parquet.count() == df.count(),
        name)
      assert(json.except(parquet).isEmpty && parquet.except(json).isEmpty,
        name)
    }
  }

  test("sinks: keyed JSON object shape (S5) + parquet checkpoint (S6)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    Sinks.writeCheckpoint(stage1, s"$tmp/ckpt")
    val back = Sinks.readCheckpoint(spark, s"$tmp/ckpt")
    assert(back.count() == stage1.count())
    val json = Sinks.keyedJson(stage1.select("kg2_id", "name"), "kg2_id")
    assert(json.startsWith("{\"CHEBI:15365\":"))
    assert(json.contains("\"CHEBI:777\""))
  }

  test("sharded keyed-JSON sink (VERDICT r14 #6): shard-wise write + " +
       "manifest reassembly is byte-identical to the driver-side " +
       "keyedJson on the fixture, escaping included") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    // fixture frame plus adversarial keys: quote, backslash, and a
    // key whose text mimics another entry's boundary
    val nasty = Seq(
      ("""DB"quote""", "a"), ("""DB\slash""", "b"),
      ("""DB, "x": {"k": "v"}""", "c"))
      .toDF("kg2_id", "name")
    val frame = stage1.select($"kg2_id".cast("string").as("kg2_id"),
      $"name").union(nasty)
    val n = Sinks.writeKeyedJsonShards(frame, "kg2_id",
      s"$tmp/shards", shards = 5)
    assert(n == frame.count())
    val assembled = Sinks.assembleKeyedJson(spark, s"$tmp/shards")
    val direct = Sinks.keyedJson(frame, "kg2_id")
    assert(assembled == direct,
      s"byte mismatch:\n${assembled.take(400)}\nvs\n${direct.take(400)}")
    // loud failures, matching keyedJson's null contract
    intercept[Exception] {
      Sinks.writeKeyedJsonShards(
        Seq((Option.empty[String], "x")).toDF("kg2_id", "name"),
        "kg2_id", s"$tmp/bad")
    }
    intercept[Exception] {
      Sinks.writeKeyedJsonShards(
        Seq((Option("a\nb"), "x")).toDF("kg2_id", "name"),
        "kg2_id", s"$tmp/bad2")
    }
  }
}
