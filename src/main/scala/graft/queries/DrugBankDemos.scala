package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drugbank.{DrugBank, Stage1, Stage2}
import graft.ner.DictionaryNer
import graft.stage2.IdentifierAlignment
import graft.synonymizer.Synonymizer
import graft.tables.Tables

/** The two-stage DrugBank composite as ONE oracled registry row
  * (round-6 verdict ask #2): a deterministic drug corpus derived from
  * `documents` runs the REAL `Stage1.run → Stage2.run` composition
  * (perform_NER.py:57-146 → look_for_identifiers.py:40-112) against an
  * inline KG, and the flattened record + indication + mechanistic maps
  * hash-match a DuckDB replica of the whole pipeline.
  *
  * Fixture rules (d = doc_id < 40):
  *  - drug DB{d} with name "Drug {d}"; description = full doc text;
  *    indication = first 120 chars (absent when d % 5 == 4);
  *    mechanism-of-action = chars 30..129 (even d only);
  *  - d % 7 == 6 has NO synonymizer entry → the record DROPS (B3);
  *  - targets: d % 4 == 0 → name "fast table" + bare id "P12345"
  *    (stage-2 names AND ids branches); d % 4 == 2 → name "hash value";
  *    enzymes: d % 6 == 3 → name "spark";
  *  - the KG maps corpus vocabulary to Disease / Protein / SmallMolecule
  *    clusters plus one out-of-category "window" (filter check).
  */
object DrugBankDemos {
  type Q = (SparkSession, String) => DataFrame

  private val nDrugs = 40

  /** (name_simplified, curie, preferred name, category) — entity rows of
    * the inline KG; the DuckDB oracle carries the same VALUES.
    */
  private val entityRows = Seq(
    ("slow",       "slow",       "MONDO:1", "SlowSyndrome",  "Disease"),
    ("filter",     "filter",     "MONDO:2", "FilterDisease", "Disease"),
    ("fast table", "fasttable",  "PROT:1",  "FastTable",     "Protein"),
    ("hash value", "hashvalue",  "PROT:2",  "HashValue",     "Protein"),
    ("spark",      "spark",      "CHEBI:9", "Spark",         "SmallMolecule"),
    ("window",     "window",     "GAD:1",   "Window",        "Gadget"),
    ("TargetProt", "targetprot", "PROT:3",  "TargetProt",    "Protein"))

  private def kg(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < nDrugs && col("doc_id") % 7 =!= 6)
    val drugNodes = docs.select(
      concat(lit("DRUGBANK:DB"),
             lpad(col("doc_id").cast("string"), 5, "0")).as("id"),
      concat(lit("DRUGBANK:DB"),
             lpad(col("doc_id").cast("string"), 5, "0")).as("id_simplified"),
      concat(lit("Drug "), col("doc_id")).as("name"),
      concat(lit("drug"), col("doc_id")).as("name_simplified"),
      lit("Drug").as("category"),
      concat(lit("CHEM:"), col("doc_id")).as("cluster_id"))
    val entityNodes = entityRows.zipWithIndex.map {
        case ((name, simp, cluster, _, cat), i) =>
          // the UniProt member id is the stage-2 ids-branch target
          val id = if (cluster == "PROT:3") "UniProtKB:P12345" else s"E:$i"
          val idSimp = if (cluster == "PROT:3") "UNIPROTKB:P12345" else s"E:$i"
          (id, idSimp, name, simp, cat, cluster)
      }.toDF("id", "id_simplified", "name", "name_simplified",
             "category", "cluster_id")
    val nodes = drugNodes.unionByName(entityNodes)
    val drugClusters = docs.select(
      concat(lit("CHEM:"), col("doc_id")).as("cluster_id"),
      concat(lit("Drug "), col("doc_id")).as("name"),
      lit("Drug").as("category"))
    val entityClusters = entityRows.map { case (_, _, c, n, cat) =>
        (c, n, cat)
      }.distinct.toDF("cluster_id", "name", "category")
    (nodes, drugClusters.unionByName(entityClusters))
  }

  /** One bioentity field in the drugSchema shape: a single entry with
    * optional id/name, or null — cast normalizes the NullType slots.
    */
  private def bio(field: String, cond: Column, id: Column,
                  name: Column): Column = {
    val singular = field.dropRight(1)
    when(cond,
      struct(array(struct(id.as("id"), name.as("name"),
        lit(null).as("polypeptide"))).as(singular)))
      .cast(DrugBank.drugSchema(field).dataType)
      .as(field)
  }

  private def drugs(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    Tables.documents(s, dir).filter(d < nDrugs).select(
      array(struct(
        concat(lit("DB"), lpad(d.cast("string"), 5, "0")).as("_VALUE"),
        lit("true").as("_primary"))).as("drugbank-id"),
      concat(lit("Drug "), d).as("name"),
      col("text").as("description"),
      when(d % 5 =!= 4, substring(col("text"), 1, 120)).as("indication"),
      lit(null).cast("string").as("pharmacodynamics"),
      when(d % 2 === 0, substring(col("text"), 30, 100))
        .as("mechanism-of-action"),
      lit(null).cast("string").as("metabolism"),
      lit(null).cast("string").as("protein-binding"),
      bio("targets", d % 4 === 0 || d % 4 === 2,
          when(d % 4 === 0, lit("P12345")),
          when(d % 4 === 0, lit("fast table")).otherwise(lit("hash value"))),
      bio("enzymes", d % 6 === 3, lit(null).cast("string"), lit("spark")),
      bio("carriers", lit(false), lit(null).cast("string"),
          lit(null).cast("string")),
      bio("transporters", lit(false), lit(null).cast("string"),
          lit(null).cast("string")),
      lit(null).cast(DrugBank.drugSchema("pathways").dataType).as("pathways"))
  }

  val queries: Map[String, Q] = Map(
    "drugbank_e2e" -> ((s, dir) => {
      import s.implicits._
      val (nodes, clusters) = kg(s, dir)
      val edges = Seq.empty[(String, String, String, String, String, String)]
        .toDF("id", "subject", "predicate", "object",
              "upstream_resource_id", "primary_knowledge_source")
      val syn = new Synonymizer(nodes, clusters, edges)
      val s1 =
        Stage1.run(drugs(s, dir), syn, new DictionaryNer(nodes, clusters))
      val s2 = Stage2.run(s1, new IdentifierAlignment(syn))
      // ONE flatten pass (r19): the rec row and both exploded maps emit
      // from a single concat'd array per record — the old three-branch
      // union read the (persisted) stage-2 frame three times; this scan
      // reads it once and needs no persist at all. Multiset-identical
      // rows, same global order.
      def entries(src: String, m: Column) =
        transform(map_entries(m), e =>
          struct(lit(src).as("src"), e.getField("key").as("curie"),
                 e.getField("value").getField("name").as("name"),
                 e.getField("value").getField("category").as("category")))
      s2.select(col("kg2_id"), explode(concat(
          array(struct(lit("rec").as("src"), col("kg2_id").as("curie"),
                       col("name"), col("category"))),
          entries("ind", col("indication_NER_aligned")),
          entries("mech", col("mechanistic_intermediate_nodes")))).as("x"))
        .select(col("kg2_id"), col("x.src").as("src"),
                col("x.curie").as("curie"), col("x.name").as("name"),
                col("x.category").as("category"))
        .orderBy("kg2_id", "src", "curie")
    }))

  /** The n-gram stack (1..6-grams — DictionaryNer's default maxGram)
    * shared by both NER passes of the oracle.
    */
  private def gramBranch(n: Int): String =
    if (n == 1)
      "list_transform(generate_series(1, len(toks)), i -> toks[i])"
    else
      s"list_transform(generate_series(1, len(toks) - ${n - 1}), " +
        s"i -> array_to_string(toks[i:i+${n - 1}], ' '))"

  val oracleSql: Map[String, String] = Map(
    "drugbank_e2e" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS d, text,
         |         'DB' || lpad(CAST(doc_id AS VARCHAR), 5, '0') AS dbid,
         |         'CHEM:' || CAST(doc_id AS VARCHAR) AS kg2
         |  FROM documents WHERE doc_id < $nDrugs),
         |resolved AS (SELECT * FROM docs WHERE d % 7 <> 6),
         |ent(mention_key, curie, cname, cat) AS (VALUES
         |  ('slow','MONDO:1','SlowSyndrome','Disease'),
         |  ('filter','MONDO:2','FilterDisease','Disease'),
         |  ('fasttable','PROT:1','FastTable','Protein'),
         |  ('hashvalue','PROT:2','HashValue','Protein'),
         |  ('spark','CHEBI:9','Spark','SmallMolecule'),
         |  ('window','GAD:1','Window','Gadget'),
         |  ('targetprot','PROT:3','TargetProt','Protein')),
         |dict AS (
         |  SELECT mention_key, curie, cname, 'biolink:' || cat AS pcat FROM ent
         |  UNION ALL
         |  SELECT 'drug' || CAST(d AS VARCHAR), kg2,
         |         'Drug ' || CAST(d AS VARCHAR), 'biolink:Drug'
         |  FROM resolved),
         |texts AS (
         |  SELECT kg2 AS key, 'ind' AS pass,
         |         regexp_replace(substr(text, 1, 120), '\\[.*?\\]', '', 'g') AS txt
         |  FROM resolved WHERE d % 5 <> 4 AND length(substr(text, 1, 120)) > 0
         |  UNION ALL
         |  SELECT kg2, 'mech',
         |    regexp_replace(text, '\\[.*?\\]', '', 'g') || chr(10) || ' ' ||
         |    CASE WHEN d % 5 <> 4 AND length(substr(text, 1, 120)) > 0
         |         THEN regexp_replace(substr(text, 1, 120), '\\[.*?\\]', '', 'g') || chr(10) || ' '
         |         ELSE '' END ||
         |    CASE WHEN d % 2 = 0 AND length(substr(text, 30, 100)) > 0
         |         THEN regexp_replace(substr(text, 30, 100), '\\[.*?\\]', '', 'g') || chr(10) || ' '
         |         ELSE '' END
         |  FROM resolved),
         |s AS (SELECT key, pass, unnest(string_split(txt, '.')) AS sentence FROM texts),
         |g AS (SELECT key, pass,
         |        array_to_string(list_filter(string_split(sentence, ' '), t -> length(t) < 100), ' ') AS sentence
         |      FROM s WHERE length(sentence) BETWEEN 15 AND 1000),
         |tok AS (SELECT key, pass,
         |          string_split_regex(trim(translate(sentence, '.,;:?!', '')), '\\s+') AS toks FROM g),
         |ng AS (SELECT DISTINCT key, pass, mention FROM (
         |  SELECT key, pass, unnest(flatten([
         |    ${(1 to 6).map(gramBranch).mkString(",\n         |    ")}
         |  ])) AS mention FROM tok)
         |  WHERE length(mention) >= 3),
         |hits AS (
         |  SELECT k.key, k.pass, dd.curie, k.mention, dd.cname, dd.pcat
         |  FROM (SELECT key, pass, mention,
         |          lower(regexp_replace(mention, '[[:punct:]\\s]', '', 'g')) AS mention_key
         |        FROM ng) k
         |  JOIN dict dd USING (mention_key)),
         |ind_final AS (
         |  SELECT key, curie, mention AS name, pcat AS category FROM hits
         |  WHERE pass = 'ind' AND pcat IN
         |    ('biolink:Disease','biolink:DiseaseOrPhenotypicFeature','biolink:PhenotypicFeature')
         |  QUALIFY row_number() OVER (PARTITION BY key, curie
         |    ORDER BY length(mention) DESC, mention DESC) = 1),
         |mech_ner AS (
         |  SELECT key, curie, mention AS name, pcat AS category FROM hits
         |  WHERE pass = 'mech' AND pcat IN
         |    ('biolink:BiologicalProcess','biolink:BiologicalProcessOrActivity',
         |     'biolink:Cell','biolink:CellularComponent','biolink:Drug',
         |     'biolink:Disease','biolink:DiseaseOrPhenotypicFeature',
         |     'biolink:Gene','biolink:GeneProduct','biolink:GeneFamily',
         |     'biolink:GeneGroupingMixin','biolink:GeneOrGeneProduct',
         |     'biolink:MolecularActivity','biolink:NoncodingRNAProduct',
         |     'biolink:PathologicalProcess','biolink:PhenotypicFeature',
         |     'biolink:Pathway','biolink:Protein',
         |     'biolink:ProteinDomain','biolink:ProteinFamily',
         |     'biolink:PhysiologicalProcess','biolink:RNAProduct',
         |     'biolink:SmallMolecule','biolink:Transcript')
         |  QUALIFY row_number() OVER (PARTITION BY key, curie
         |    ORDER BY length(mention) DESC, mention DESC) = 1),
         |mined_names AS (
         |  SELECT kg2 AS key, 'fast table' AS mname FROM resolved WHERE d % 4 = 0
         |  UNION ALL SELECT kg2, 'hash value' FROM resolved WHERE d % 4 = 2
         |  UNION ALL SELECT kg2, 'spark' FROM resolved WHERE d % 6 = 3),
         |aligned_names AS (
         |  SELECT DISTINCT m.key, dd.curie, dd.cname AS name, dd.pcat AS category
         |  FROM mined_names m JOIN dict dd
         |    ON lower(regexp_replace(m.mname, '[[:punct:]\\s]', '', 'g')) = dd.mention_key),
         |-- ids branch: bare id 'P12345' fires the UniProt detector
         |-- ([OPQ][0-9][A-Z0-9]{3}[0-9], CONSTANTS.py R1 row); its other
         |-- detector candidates (CHEBI:P12345, PUBCHEM.*:P12345, :P12345)
         |-- have no planted member nodes, so the member join drops them
         |members(id_simplified, curie) AS (VALUES ('UNIPROTKB:P12345','PROT:3')),
         |clusters_tbl(curie, cname, pcat) AS (VALUES ('PROT:3','TargetProt','biolink:Protein')),
         |mined_ids AS (SELECT kg2 AS key, 'P12345' AS bid FROM resolved WHERE d % 4 = 0),
         |aligned_ids AS (
         |  SELECT DISTINCT i.key, c.curie, c.cname AS name, c.pcat AS category
         |  FROM mined_ids i
         |  JOIN members mm ON 'UNIPROTKB:' || i.bid = mm.id_simplified
         |  JOIN clusters_tbl c ON mm.curie = c.curie
         |  WHERE strpos(i.bid, ':') = 0
         |    AND regexp_matches(i.bid, '[OPQ][0-9][A-Z0-9]{3}[0-9]')),
         |merged AS (
         |  SELECT key, curie, name, category FROM (
         |    SELECT key, curie, name, category, 0 AS prio FROM mech_ner
         |    UNION ALL
         |    SELECT key, curie, name, category, 1 AS prio FROM (
         |      SELECT * FROM aligned_names UNION SELECT * FROM aligned_ids))
         |  QUALIFY row_number() OVER (PARTITION BY key, curie ORDER BY prio) = 1),
         |flat AS (
         |  SELECT kg2 AS kg2_id, 'rec' AS src, kg2 AS curie,
         |         'Drug ' || CAST(d AS VARCHAR) AS name, 'biolink:Drug' AS category
         |  FROM resolved
         |  UNION ALL
         |  SELECT key, 'ind', curie, name, category FROM ind_final
         |  UNION ALL
         |  SELECT key, 'mech', curie, name, category FROM merged)
         |SELECT kg2_id, src, curie, name, category FROM flat
         |ORDER BY kg2_id, src, curie""".stripMargin)
}
