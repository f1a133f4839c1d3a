package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Size of one generated input set. */
final case class Shape(
    drugs: Int,          // multiple of 16, so every planted share is whole
    fillerNodes: Long)   // KG nodes that nothing in the corpus mentions

/** Expected pipeline outputs, from the generator's own arithmetic. */
final case class PipelineTruth(
    records: Long,                 // drugs whose DrugBank id resolves
    indEntries: Long,              // stage-1 indication map entries
    mechEntries1: Long,            // stage-1 mechanistic map entries
    stage2ByNamespace: Map[String, Long], // stage-2 map keys per curie prefix
    keptMentionNames: Long,        // CHEM entries still carrying the stage-1 text
    nameAdditions: Long,           // stage-2 additions from the names branch
    idAdditions: Long,             // stage-2 additions from the ids branch
    textChars: Long)               // characters of text over all drugs

/** A lookup call and its expected answers. */
final case class LookupCall(
    keys: Seq[String],
    expected: Map[String, Option[String]])   // input -> preferred curie

/** Where the generated KG tables live. */
final case class Kg(nodes: String, clusters: String, edges: String) {
  def bytes: Long = Seq(nodes, clusters, edges).map(Gen.dirBytes).sum
}

/** Where the generated XML lives and what the pipeline must produce. */
final case class Drugs(xmlPath: String, truth: PipelineTruth) {
  def bytes: Long = Gen.dirBytes(xmlPath)
}

/** Seeded DrugBank-shaped XML plus a KG in the synonymizer's table shape.
  *
  * The KG is planted nodes (drugs, text terms, bioentity names and ids)
  * plus filler nodes whose ids and names nothing in the corpus can
  * produce, so every expected count below is exact. Filler node `i` has
  * id `UMLS:C{i}`, name `Xq{i/3} quorvane kinase subunit` and cluster
  * `XQC:{i/2}`: each name group of three nodes has exactly one cluster
  * holding two of them, which is the argmax answer for that name.
  *
  * Corpus words all start with `q`, and no KG name does, so no n-gram
  * of filler text can hit the dictionary.
  */
object Gen {

  /** The 15 bare-id detectors of the reference (CONSTANTS.py:28-62),
    * kept here as the benchmark's own statement of the expected
    * semantics: prefix and unanchored pattern.
    */
  val Detectors: Seq[(String, java.util.regex.Pattern)] = Seq(
    "DRUGBANK" -> """DB\d+""", "CAS" -> """\d{2,7}-\d{2}-\d""",
    "KEGG.COMPOUND" -> """C\d{5}""", "KEGG.DRUG" -> """D\d{5}""",
    "PUBCHEM.COMPOUND" -> """\d{4,9}""", "PUBCHEM.SUBSTANCE" -> """\d{4,9}""",
    "CHEBI" -> """\d+""", "PHARMGKB" -> """PA\d+""", "" -> """\w{3}""",
    "UNIPROTKB" -> """[OPQ][0-9][A-Z0-9]{3}[0-9]""",
    "GENBANK" -> """\w{2}\d{6}""", "" -> """\d+""",
    "NDC" -> """\d{4}-\d{4}-\d{2}""", "SMPDB" -> """SMP\d+""",
    "PR" -> """P:\d+""").map { case (p, r) => p -> java.util.regex.Pattern.compile(r) }

  val FillerCategories: Seq[String] = Seq(
    "Protein", "Gene", "SmallMolecule", "Disease", "BiologicalProcess",
    "ChemicalEntity", "Pathway", "PhenotypicFeature")

  val Terms = 4000      // Tyrokinase terms (Protein)
  val Diseases = 2000   // Malady terms (Disease)
  val Decoys = 500      // terms planted only where a gate must drop them
  val Proteins = 3000   // bioentity names that resolve
  val LongToken: String = "decoy" + ("z" * 105)  // >= 100 chars: dropped
  val IdSpace = 6000    // bare ids per family; planted rules below pick which resolve

  def dbId(d: Int): String = f"DB$d%05d"
  def resolves(d: Int): Boolean = d % 16 != 15

  private def simplify(s: String): String =
    s.replaceAll("[\\p{Punct}\\s]", "").toLowerCase(java.util.Locale.ROOT)

  private def capitalizePrefix(c: String): String = {
    val i = c.indexOf(':')
    if (i < 0) c.toUpperCase(java.util.Locale.ROOT)
    else c.substring(0, i).toUpperCase(java.util.Locale.ROOT) + c.substring(i)
  }

  /** Curie candidates of a bare id (look_for_identifiers.py:19-38). */
  def candidates(id: String): Seq[String] =
    if (id.contains(":")) Nil
    else Detectors.collect { case (p, r) if r.matcher(id).find() => p + ":" + id }

  private final case class Node(id: String, name: String, category: String,
                                cluster: String)

  /** Planted nodes plus cluster preferred names. */
  private final class PlantedKg {
    val nodes = mutable.ArrayBuffer.empty[Node]
    val clusterName = mutable.LinkedHashMap.empty[String, (String, String)]
    val byId = mutable.HashMap.empty[String, String]    // id_simplified -> cluster
    val byName = mutable.HashMap.empty[String, String]  // name_simplified -> cluster
    def add(id: String, name: String, cat: String, cluster: String,
            prefName: String): Unit = {
      nodes += Node(id, name, cat, cluster)
      clusterName.getOrElseUpdate(cluster, (prefName, cat))
      byId(capitalizePrefix(id)) = cluster
      byName(simplify(name)) = cluster
    }
  }

  private def plantedKg(n: Int): PlantedKg = {
    val kg = new PlantedKg
    for (d <- 0 until n if resolves(d))
      kg.add("DRUGBANK:" + dbId(d), s"Drugamine $d", "Drug", s"CHEM:$d", s"Drug $d")
    for (t <- 0 until Terms)
      kg.add(s"HGNC:$t", s"Tyrokinase $t", "Protein", s"TC:$t", s"Tyrokinase protein $t")
    for (m <- 0 until Diseases)
      kg.add(s"MONDO:$m", s"Malady $m", "Disease", s"DIS:$m", s"Malady syndrome $m")
    for (j <- 0 until Decoys)
      kg.add(s"NCIT:$j", s"Decoy $j", "Protein", s"DEC:$j", s"Decoy $j")
    kg.add("NCIT:LONG", LongToken, "Protein", "DEC:LONG", "Long decoy")
    for (p <- 0 until Proteins) {
      kg.add(s"NCBIGene:$p", s"Receptor protein $p", "Protein", s"PNC:$p",
        s"Receptor protein $p")
      kg.add(s"HGNC:G$p", s"GEN$p", "Gene", s"PNC:$p", s"Receptor protein $p")
    }
    // resolving bare ids: one planted node per (family, k) rule below
    for (k <- 0 until IdSpace) {
      if (k % 3 == 0) kg.add(f"GENBANK:BE$k%07d", s"Binding entity $k", "Protein",
        s"PIC:BE$k", s"Binding entity $k")
      if (k % 2 == 0) kg.add(f"UniProtKB:P$k%05d", s"Uniprot entry $k", "Protein",
        s"PIC:U$k", s"Uniprot entry $k")
      if (k % 4 == 0) kg.add(s"CAS:${1000 + k}-${10 + k % 90}-${k % 10}",
        s"Cas compound $k", "SmallMolecule", s"PIC:C$k", s"Cas compound $k")
      if (k % 2 == 1) kg.add(f"KEGG.COMPOUND:C$k%05d", s"Kegg compound $k",
        "SmallMolecule", s"PIC:K$k", s"Kegg compound $k")
      if (k % 5 == 0) kg.add(s"PHARMGKB:PA${100000 + k}", s"Pharm entry $k",
        "Protein", s"PIC:PA$k", s"Pharm entry $k")
      if (k % 3 == 0) kg.add(s"PUBCHEM.COMPOUND:${2000 + k}", s"Pubchem entry $k",
        "SmallMolecule", s"PIC:N$k", s"Pubchem entry $k")
      if (k % 3 == 1) kg.add(s"CHEBI:${2000 + k}", s"Chebi entry $k",
        "SmallMolecule", s"PIC:H$k", s"Chebi entry $k")
    }
    kg
  }

  // ---- drug records --------------------------------------------------

  private final class Doc(rng: SplittableRandom) {
    private val words = Array.tabulate(64)(i =>
      "q" + ('a' + i % 26).toChar + ('a' + (i * 7) % 26).toChar + "ne" + (i % 5))
    def filler(k: Int): Seq[String] = Seq.fill(k)(words(rng.nextInt(words.length)))
    /** A sentence of `k` filler words with `planted` spliced in. */
    def sentence(k: Int, planted: String*): String = {
      val ws = mutable.ArrayBuffer.from(filler(k))
      planted.foreach(p => ws.insert(1 + rng.nextInt(ws.length), p))
      ws.mkString(" ")
    }
  }

  private final case class Bio(id: String, name: String,
                               polys: Seq[(String, String, String)])

  private final case class Drug(row: Row, truth: DrugTruth)
  private final case class DrugTruth(
      resolves: Boolean, ind: Set[String], mech: Set[String],
      names: Seq[String], ids: Seq[String], textChars: Long)

  private def pick(rng: SplittableRandom, n: Int): Int = rng.nextInt(n)

  private def genDrug(d: Int, shape: Shape, rng: SplittableRandom): Drug = {
    val doc = new Doc(rng)
    val ind = mutable.LinkedHashSet.empty[String]
    val mech = mutable.LinkedHashSet.empty[String]
    def term(): (String, String) = { val t = pick(rng, Terms); (s"Tyrokinase $t", s"TC:$t") }
    def malady(): (String, String) = { val m = pick(rng, Diseases); (s"Malady $m", s"DIS:$m") }
    def decoy(): String = s"Decoy ${pick(rng, Decoys)}"
    val ownName = d % 4 != 3   // three drugs in four mention themselves
    if (ownName && resolves(d)) mech += s"CHEM:$d"
    val own = if (ownName) Seq(s"Drugamine $d") else Nil

    // about 80 tokens of text over three fields, with planted terms and
    // with text that the sentence, token and bracket gates must drop
    val (description, indication, mechanism) = {
      val descTerms = Seq.fill(1 + pick(rng, 3))(term())
      mech ++= descTerms.map(_._2)
      val desc = Seq(
        doc.sentence(10, own ++ descTerms.take(1).map(_._1): _*),
        doc.sentence(9, descTerms.drop(1).map(_._1): _*),
        // bracketed citation: removed before NER, so its decoy never hits
        doc.sentence(8) + s" [see ${decoy()}]",
        doc.sentence(7)).mkString(". ") + "."
      val indParts = mutable.ArrayBuffer.empty[String]
      if (d % 2 == 0) {
        val ms = Seq.fill(1 + pick(rng, 2))(malady())
        ind ++= ms.map(_._2); mech ++= ms.map(_._2)
        indParts += doc.sentence(8, ms.map(_._1): _*)
      } else indParts += doc.sentence(8)
      if (d % 8 == 1) {   // a Protein in the indication: mech only
        val t = term(); mech += t._2
        indParts += doc.sentence(6, t._1)
      }
      if (d % 4 == 2) indParts += decoy()   // under 15 chars: gated out
      indParts += doc.sentence(6)
      val indication = indParts.mkString(". ") + "."
      val mechTerms = Seq.fill(pick(rng, 3))(term())
      mech ++= mechTerms.map(_._2)
      val mechParts = mutable.ArrayBuffer(
        doc.sentence(10, mechTerms.map(_._1): _*), doc.sentence(9))
      if (d % 16 == 5)    // over 1000 chars: gated out
        mechParts += doc.sentence(190, decoy())
      if (d % 8 == 3)     // a 110-char token is dropped from its sentence
        mechParts += doc.sentence(8, LongToken)
      (desc, indication, mechParts.mkString(". ") + ".")
    }

    // bioentities: entry ids from mixed families, UniProt polypeptide ids
    def entryId(): String = pick(rng, 7) match {
      case 0 => f"BE${pick(rng, IdSpace)}%07d"
      case 1 => dbId(pick(rng, shape.drugs))
      case 2 => val k = pick(rng, IdSpace); s"${1000 + k}-${10 + k % 90}-${k % 10}"
      case 3 => f"C${pick(rng, IdSpace)}%05d"
      case 4 => f"D${pick(rng, IdSpace)}%05d"
      case 5 => s"PA${100000 + pick(rng, IdSpace)}"
      case _ => s"${2000 + pick(rng, IdSpace)}"
    }
    def protName(): (String, String) = {
      val p = pick(rng, 2 * Proteins)   // half resolve
      if (p < Proteins) (s"Receptor protein $p", s"GEN$p")
      else (s"Orphan receptor $p", s"ORF$p")
    }
    def bio(n: Int): Seq[Bio] = Seq.fill(n) {
      val (name, _) = protName()
      val polys = Seq.fill(1 + pick(rng, 2)) {
        val (pn, gn) = protName()
        (f"P${pick(rng, IdSpace)}%05d", pn, gn)
      }
      Bio(entryId(), name, polys)
    }
    val (targets, enzymes, carriers, transporters) =
      (bio(2 + pick(rng, 3)), bio(1 + pick(rng, 3)), bio(pick(rng, 3)), bio(pick(rng, 3)))
    // pathway ids are prefixed (SMPDB:) and enzyme ids sit below the
    // mined level, so stage 2 must leave both alone
    val pathways = Seq.fill(1 + pick(rng, 2))(
      (f"SMP${pick(rng, 90000)}%07d", Seq.fill(1 + pick(rng, 2))(f"Q${pick(rng, IdSpace)}%05d")))

    val all = targets ++ enzymes ++ carriers ++ transporters
    // per field: entry names, polypeptide names, gene names (set per field
    // in the program; the union over fields is what alignment sees)
    val names = all.flatMap(b => b.name +: b.polys.flatMap(p => Seq(p._2, p._3)))
    val ids = all.flatMap(b => b.id +: b.polys.map(_._1))

    def bioRow(bs: Seq[Bio]): Row =
      if (bs.isEmpty) null
      else Row(bs.map(b => Row(b.id, b.name, b.polys.map(p => Row(p._1, p._2, p._3)))))
    val row = Row(
      Seq(Row(dbId(d), "true")), s"Drug name $d", description, indication,
      null, mechanism, null, null,
      bioRow(targets), bioRow(enzymes), bioRow(carriers), bioRow(transporters),
      Row(pathways.map { case (s, us) => Row(s, Row(us)) }))
    val chars = Seq(description, indication, mechanism).map(_.length.toLong).sum
    Drug(row, DrugTruth(resolves(d), ind.toSet, mech.toSet, names, ids, chars))
  }

  // ---- writers -------------------------------------------------------

  private def fillerNodes(spark: SparkSession, n: Long): DataFrame = {
    val i = col("id")
    val cats = typedLit(FillerCategories)
    spark.range(0, n, 1, 4).select(
      format_string("UMLS:C%07d", i).as("id"),
      format_string("UMLS:C%07d", i).as("id_simplified"),
      format_string("Xq%d quorvane kinase subunit", i.divide(3).cast("long")).as("name"),
      format_string("xq%dquorvanekinasesubunit", i.divide(3).cast("long")).as("name_simplified"),
      element_at(cats, (i % 8 + 1).cast("int")).as("category"),
      format_string("XQC:%d", i.divide(2).cast("long")).as("cluster_id"),
      lit("BiologicalEntity").as("major_branch"),
      format_string("Xq%d quorvane kinase subunit (SRI)", i.divide(3).cast("long")).as("name_sri"),
      concat(lit("biolink:"), element_at(cats, (i % 8 + 1).cast("int"))).as("category_sri"),
      lit(null).cast("string").as("name_kg2pre"),
      lit(null).cast("string").as("category_kg2pre"))
  }

  private def fillerClusters(spark: SparkSession, n: Long): DataFrame = {
    val c = col("id")
    val cats = typedLit(FillerCategories)
    spark.range(0, n / 2, 1, 4).select(
      format_string("XQC:%d", c).as("cluster_id"),
      format_string("Xq cluster %d", c).as("name"),
      element_at(cats, ((c * 2) % 8 + 1).cast("int")).as("category"),
      array(format_string("UMLS:C%07d", c * 2),
            format_string("UMLS:C%07d", c * 2 + 1)).as("member_ids"),
      array().cast("array<string>").as("intra_cluster_edge_ids"))
  }

  private val NodeSchema = StructType(Seq("id", "id_simplified", "name",
    "name_simplified", "category", "cluster_id", "major_branch", "name_sri",
    "category_sri", "name_kg2pre", "category_kg2pre")
    .map(StructField(_, StringType)))

  private val ClusterSchema = StructType(Seq(
    StructField("cluster_id", StringType), StructField("name", StringType),
    StructField("category", StringType),
    StructField("member_ids", ArrayType(StringType)),
    StructField("intra_cluster_edge_ids", ArrayType(StringType))))

  private val EdgeSchema = StructType(Seq("id", "subject", "predicate",
    "object", "upstream_resource_id", "primary_knowledge_source")
    .map(StructField(_, StringType)))

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .map(x => dirBytes(x.getPath)).sum
  }

  /** The KG for `shape`. It does not depend on the seed, so it is
    * written once per shape under `cache` (with a session from
    * `session`, stopped afterwards) and reused by later runs.
    */
  def ensureKg(session: () => SparkSession, shape: Shape, cache: String): Kg = {
    require(shape.drugs % 16 == 0, "drug count must be a multiple of 16")
    require(shape.fillerNodes % 6 == 0, "filler count must be a multiple of 6")
    val dir = s"$cache/kg-${shape.drugs}-${shape.fillerNodes}"
    val kg = Kg(s"$dir/nodes", s"$dir/clusters", s"$dir/edges")
    val done = new java.io.File(dir, "complete")
    if (!done.exists()) {
      val spark = session()
      val planted = plantedKg(shape.drugs)
      val plantedNodes = spark.createDataFrame(
        spark.sparkContext.parallelize(planted.nodes.toSeq.map(n => Row(
          n.id, capitalizePrefix(n.id), n.name, simplify(n.name), n.category,
          n.cluster, "BiologicalEntity", n.name, "biolink:" + n.category,
          null, null)), 4), NodeSchema)
      val members = planted.nodes.groupBy(_.cluster).map { case (c, ns) => c -> ns.map(_.id).toSeq }
      val plantedClusters = spark.createDataFrame(
        spark.sparkContext.parallelize(planted.clusterName.toSeq.map { case (c, (nm, cat)) =>
          Row(c, nm, cat, members(c), Seq.empty[String]) }, 4), ClusterSchema)
      // one file per table, as a single writer leaves a table this size;
      // under 128 MB that file is one row group, so a scan is one task
      fillerNodes(spark, shape.fillerNodes).unionByName(plantedNodes).coalesce(1)
        .write.mode("overwrite").parquet(kg.nodes)
      fillerClusters(spark, shape.fillerNodes).unionByName(plantedClusters).coalesce(1)
        .write.mode("overwrite").parquet(kg.clusters)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], EdgeSchema)
        .write.mode("overwrite").parquet(kg.edges)
      spark.stop()
      done.createNewFile()
    }
    kg
  }

  /** Write the seeded DrugBank XML for `shape` under `dir` and return
    * the expected outputs.
    */
  def writeDrugs(spark: SparkSession, shape: Shape, seed: Long, dir: String): Drugs = {
    val rng = new SplittableRandom(seed)
    val drugs = (0 until shape.drugs).map(d => genDrug(d, shape, rng))
    def writeXml(rows: Seq[Row], path: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          graft.drugbank.DrugBank.drugSchema)
        .write.mode("overwrite").format("xml")
        .option("rootTag", "drugbank").option("rowTag", "drug")
        .save(path)
    val xml = Drugs(s"$dir/drugbank_xml", truth(drugs.map(_.truth), plantedKg(shape.drugs)))
    writeXml(drugs.map(_.row), xml.xmlPath)
    xml
  }

  private def namespace(curie: String): String = curie.takeWhile(_ != ':')

  private def truth(ts: Seq[DrugTruth], kg: PlantedKg): PipelineTruth = {
    val byNs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var kept, nameAdds, idAdds = 0L
    for (t <- ts if t.resolves) {
      val fromNames = t.names.flatMap(n => kg.byName.get(simplify(n))).toSet
      val fromIds = t.ids.flatMap(candidates)
        .flatMap(c => kg.byId.get(capitalizePrefix(c))).toSet
      val s2 = t.mech ++ fromNames ++ fromIds
      s2.foreach(c => byNs(namespace(c)) += 1)
      kept += t.mech.count(_.startsWith("CHEM:"))
      nameAdds += (fromNames -- t.mech).size
      idAdds += (fromIds -- t.mech -- fromNames).size
    }
    PipelineTruth(
      records = ts.count(_.resolves).toLong,
      indEntries = ts.filter(_.resolves).map(_.ind.size.toLong).sum,
      mechEntries1 = ts.filter(_.resolves).map(_.mech.size.toLong).sum,
      stage2ByNamespace = byNs.toMap,
      keptMentionNames = kept, nameAdditions = nameAdds, idAdditions = idAdds,
      textChars = ts.map(_.textChars).sum)
  }

  // ---- lookup calls ------------------------------------------------

  /** Key counts of the lookup calls, in the order the loop issues them:
    * a point query, as the reference's command line and its per-drug
    * DrugBank-id probe make (node_synonymizer.py:438-487,
    * utils.py:206-223), and one full probe chunk of 5,000 keys, the most
    * the reference puts in one IN clause (node_synonymizer.py:400-411).
    */
  val CallSizes: Seq[Int] = Seq(1, 5000)

  def plantedNodes(n: Int): Int = plantedKg(n).nodes.size

  /** Every synonymizer probe the pipeline makes for the corpus of `seed`
    * (the same drugs `writeDrugs` writes), with its expected preferred
    * curie: each drug's DrugBank id, probed when Stage 1 builds the
    * records, and for drugs whose id resolves, the mined bioentity names
    * and the curie candidates of the mined bare ids, probed by Stage 2.
    * Repeats stay in, so a uniform draw follows the pipeline's own mix.
    */
  def probes(shape: Shape, seed: Long): IndexedSeq[(String, Option[String])] = {
    val kg = plantedKg(shape.drugs)
    val rng = new SplittableRandom(seed)
    (0 until shape.drugs).flatMap { d =>
      val t = genDrug(d, shape, rng).truth
      ("DRUGBANK:" + dbId(d)) +:
        (if (t.resolves) t.names ++ t.ids.flatMap(candidates) else Nil)
    }.map { k =>
      k -> (if (isCurie(k)) kg.byId.get(capitalizePrefix(k)) else kg.byName.get(simplify(k)))
    }
  }

  /** The reference's curie-or-name dispatch (node_synonymizer.py:44-46). */
  def isCurie(key: String): Boolean = key.contains(":")

  /** A call of `size` keys drawn uniformly from `probes`. */
  def lookupCall(rng: SplittableRandom, probes: IndexedSeq[(String, Option[String])],
                 size: Int): LookupCall = {
    val drawn = Seq.fill(size)(probes(rng.nextInt(probes.size)))
    LookupCall(drawn.map(_._1), drawn.toMap)
  }
}
