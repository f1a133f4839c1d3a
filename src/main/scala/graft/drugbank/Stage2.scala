package graft.drugbank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stage2.IdentifierAlignment

/** EP2 — look_for_identifiers.py:40-112 as one Spark job (SURVEY §3):
  * re-load the stage-1 records, mine the structured bioentity fields for
  * names and bare-id suffixes, align them to KG2, and merge into
  * `mechanistic_intermediate_nodes` with FIRST-wins semantics — entries
  * already present from stage 1's NER pass keep their (mention-text) value
  * (look_for_identifiers.py:86-89, 102-105).
  *
  * Field notes mirroring the reference exactly: `pathways` has no `names`
  * key (skipped harmlessly); its ids are SMPDB:-prefixed so the `":" not
  * in id` gate drops them; nested pathway-enzyme ids are never reached by
  * `field.get('ids')`; `reactions` never exists in the records.
  *
  * [[run]] is eager, like `Stage1.run`: it runs the stage's jobs on call
  * and returns a materialized leaf ([[Sinks.stageBoundary]]), because
  * the output has two sinks — JSON and the parquet checkpoint
  * (look_for_identifiers.py:107-112) — and any downstream reader.
  */
object Stage2 {

  private val bioFields = Seq("transporters", "enzymes", "targets", "carriers")

  private def emptyStrArray = array().cast("array<string>")

  // Both miners make ONE pass over the records: a union of per-field
  // selects scans the stage-1 frame once per field (4-5 scans — at
  // fixture scale that was 128-160 near-empty tasks per execution, at
  // 100 TB it is 4-5 full passes); flatten-then-explode emits the same
  // multiset from a single scan. A null struct/array field contributes
  // nothing, exactly like explode of a null array did.

  /** (key, name) pairs from every names-bearing identifier field. */
  def minedNames(records: DataFrame): DataFrame =
    records.select(col("kg2_id").as("key"),
      explode(flatten(array(bioFields.map(f =>
        coalesce(col(s"$f.names"), emptyStrArray)): _*))).as("name"))

  /** (key, id) pairs from every ids-bearing identifier field. */
  def minedIds(records: DataFrame): DataFrame =
    records.select(col("kg2_id").as("key"),
      explode(flatten(array((bioFields.map(f => col(s"$f.ids"))
        :+ col("pathways.ids"))
        .map(c => coalesce(c, emptyStrArray)): _*))).as("id"))

  /** The restart-safe variant of [[run]]: write the stage-1 frame to a
    * parquet checkpoint and run stage 2 off the re-read — the exact
    * reference flow (stage 1 pickles, stage 2 reloads;
    * perform_NER.py:141-142 → look_for_identifiers.py:65-66). Use this
    * when the two stages run as separate jobs: a stage-2 failure
    * restarts from the checkpoint without recomputing stage 1.
    */
  def runCheckpointed(stage1: DataFrame, align: IdentifierAlignment,
                      checkpointDir: String): DataFrame = {
    Sinks.writeCheckpoint(stage1, checkpointDir)
    run(Sinks.readCheckpoint(stage1.sparkSession, checkpointDir), align)
  }

  def run(stage1Input: DataFrame, align: IdentifierAlignment): DataFrame = {
    // The stage-1 frame is referenced four times below (existing entries,
    // mined names, mined ids, final join). The reference materializes this
    // exact boundary as a pickle checkpoint (perform_NER.py:141-142 →
    // look_for_identifiers.py:65-66); without it each branch re-expands
    // the full stage-1 subtree including BOTH NER dictionary passes.
    // A caller restarting across jobs can instead pass a frame re-read
    // via Sinks.writeCheckpoint/readCheckpoint (the S4 path).
    val stage1 = Sinks.stageBoundary(stage1Input)
    // Existing stage-1 NER entries (priority 0 — they win).
    val existing = stage1
      .select(col("kg2_id").as("drug_key"),
        explode(col("mechanistic_intermediate_nodes")).as(Seq("curie", "info")))
      .select(col("drug_key").as("key"), col("curie").as("preferred_curie"),
              col("info.name").as("name"), col("info.category").as("category"),
              lit(0).as("prio"))

    val aligned = align
      .mechanisticNodes(minedNames(stage1), minedIds(stage1))
      .withColumn("prio", lit(1))

    val merged = existing.unionByName(aligned)
      .groupBy("key", "preferred_curie")
      .agg(min_by(struct(col("name"), col("category")), col("prio"))
        .as("info"))
      .groupBy("key")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("preferred_curie"), col("info")))))
        .as("mechanistic_intermediate_nodes"))

    // left lazy, the regex fan-out, both synonymizer probes and the merge
    // would re-run for each sink
    Sinks.stageBoundary(stage1.drop("mechanistic_intermediate_nodes")
      .join(merged, col("kg2_id") === merged("key"), "left")
      .drop("key")
      .withColumn("mechanistic_intermediate_nodes",
        coalesce(col("mechanistic_intermediate_nodes"),
          DrugBank.emptyMatchMap)))
  }
}
