package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.drugbank.{DrugBank, Sinks, Stage1, Stage2}
import graft.ner.DictionaryNer
import graft.stage2.IdentifierAlignment
import graft.synonymizer.Synonymizer

/** CLI demo of the full two-stage pipeline (EP1 + EP2) on a DrugBank-style
  * XML corpus and synonymizer tables.
  *
  * Usage: PipelineDemo <drugbankXml> <outDir> [nodesParquet clustersParquet edgesParquet]
  * Without parquet paths it runs against the built-in mini fixture tables
  * (same shapes as FIXTURES.md §B1), prints the stage outputs, and writes
  * JSON + parquet checkpoints under <outDir>.
  */
object PipelineDemo {

  /** Mini synonymizer tables for fixture-mode runs (B1 shape). */
  private def fixtureTables(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val nodes = Seq(
      ("CHEBI:15365", "CHEBI:15365", "Aspirin", "aspirin", "SmallMolecule",
       "CHEBI:15365", "ChemicalEntity", "aspirin", "SmallMolecule",
       "Aspirin", "SmallMolecule"),
      ("DRUGBANK:DB00945", "DRUGBANK:DB00945", "aspirin", "aspirin", "Drug",
       "CHEBI:15365", "ChemicalEntity", null, null, "aspirin", "Drug"),
      ("MONDO:0004979", "MONDO:0004979", "asthma", "asthma", "Disease",
       "MONDO:0004979", "DiseaseOrPhenotypicFeature", "asthma", "Disease",
       "asthma", "Disease"),
      ("UniProtKB:P45059", "UNIPROTKB:P45059", "PBP3", "pbp3", "Protein",
       "UniProtKB:P45059", "Protein", "PBP3", "Protein", "PBP3", "Protein"))
      .toDF("id", "id_simplified", "name", "name_simplified", "category",
            "cluster_id", "major_branch", "name_sri", "category_sri",
            "name_kg2pre", "category_kg2pre")
    val clusters = Seq(
      ("CHEBI:15365", "Aspirin", "SmallMolecule",
       Seq("CHEBI:15365", "DRUGBANK:DB00945"), Seq.empty[String]),
      ("MONDO:0004979", "asthma", "Disease", Seq("MONDO:0004979"),
       Seq.empty[String]),
      ("UniProtKB:P45059", "PBP3", "Protein", Seq("UniProtKB:P45059"),
       Seq.empty[String]))
      .toDF("cluster_id", "name", "category", "member_ids",
            "intra_cluster_edge_ids")
    val edges = Seq.empty[(String, String, String, String, String, String)]
      .toDF("id", "subject", "predicate", "object", "upstream_resource_id",
            "primary_knowledge_source")
    (nodes, clusters, edges)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineDemo <drugbankXml> <outDir> [nodes clusters edges parquet]")
    val Array(xmlPath, outDir) = args.take(2)
    val spark = Sessions.local("graft-pipeline-demo",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    val (nodes, clusters, edges) =
      if (args.length >= 5)
        (spark.read.parquet(args(2)), spark.read.parquet(args(3)),
         spark.read.parquet(args(4)))
      else fixtureTables(spark)

    val syn = new Synonymizer(nodes, clusters, edges)
    val drugs = DrugBank.readXml(spark, xmlPath)
    println(s"scan: ${drugs.count()} drug rows")

    val stage1 = Stage1.run(drugs, syn, new DictionaryNer(nodes, clusters))
    println(s"stage1: ${stage1.count()} resolved records")
    Sinks.writeCheckpoint(stage1, s"$outDir/kg2_drug_info.parquet")
    Sinks.writeJson(stage1, s"$outDir/kg2_drug_info.json", singleFile = true)

    val stage2 = Stage2.run(stage1, new IdentifierAlignment(syn))
    println(s"stage2: ${stage2.count()} aligned records")
    Sinks.writeCheckpoint(stage2, s"$outDir/DrugBank_aligned_with_KG2.parquet")
    Sinks.writeJson(stage2, s"$outDir/DrugBank_aligned_with_KG2.json",
      singleFile = true)

    stage2.select("kg2_id", "name", "drug_bank_id",
                  "mechanistic_intermediate_nodes")
      .show(20, truncate = 120)
    spark.stop()
  }
}
