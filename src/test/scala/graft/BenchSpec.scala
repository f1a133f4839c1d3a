package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Hygiene of the bench harness's historical-minimum table: the steal
  * check silently degrades if a failure penalty ever becomes a "floor"
  * (everything later looks clean) or if one malformed entry kills the
  * whole table (no query gets the retry methodology). The mins/merge
  * tests are pure functions; only the floor gate's adjudication path
  * (offenders present in the committed artifact) spins a session.
  */
class BenchSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  private def tmpMins(content: String): String = {
    val f = Files.createTempFile("graft_bench_mins", ".json")
    Files.writeString(f, content)
    f.toString
  }

  test("mergeMins: penalties never enter, floors only decrease, absent " +
       "queries re-seed or persist") {
    val hist = Map("q_slow" -> 2.0, "q_fast" -> 0.1, "q_gone" -> 5.0)
    val run = Seq(
      "q_slow" -> 1.5,                      // improved -> new floor
      "q_fast" -> 0.4,                      // regressed -> floor kept
      "q_failed" -> Bench.failurePenaltySec, // penalty -> never enters
      "q_new" -> 0.7)                       // first sighting -> re-seeds
    val merged = Bench.mergeMins(hist, run).toMap
    assert(merged("q_slow") == 1.5)
    assert(merged("q_fast") == 0.1)
    assert(merged("q_gone") == 5.0)   // absent from run: floor persists
    assert(merged("q_new") == 0.7)
    assert(!merged.contains("q_failed")) // penalty excluded entirely
    // a restored query (absent from mins, clean this run) re-seeds: the
    // next run's steal check starts from its first clean sample
    val restored = Bench.mergeMins(merged, Seq("q_failed" -> 0.9)).toMap
    assert(restored("q_failed") == 0.9)
  }

  test("minTotalOf: a query that failed THIS run contributes its " +
       "penalty, not its historical floor") {
    val mins = Map("q_ok" -> 1.0, "q_failed" -> 2.0)
    val run = Seq(
      "q_ok" -> 1.4,                          // noisy sample -> floor
      "q_failed" -> Bench.failurePenaltySec,  // failed -> penalty, NOT 2.0
      "q_new" -> 0.5)                         // no floor -> fresh sample
    assert(Bench.minTotalOf(mins, run) ==
      1.0 + Bench.failurePenaltySec + 0.5)
  }

  test("mergeMins: a failed run never creates an entry") {
    val merged =
      Bench.mergeMins(Map.empty, Seq("q" -> Bench.failurePenaltySec))
    assert(merged.isEmpty)
  }

  test("readMins: sf-namespace isolation and legacy default") {
    val path =
      tmpMins(s"""{"_sf":"$sf","q1_agg":0.123,"join_inner":0.456}""")
    assert(Bench.readMins(path, sf) ==
      Map("q1_agg" -> 0.123, "join_inner" -> 0.456))
    // a file recorded at another sf is ignored wholesale
    assert(Bench.readMins(path, "/root/testdata/sf0.01").isEmpty)
    // legacy file without the _sf tag was recorded at the sf0.1 default
    val legacy = tmpMins("""{"q1_agg":0.5}""")
    assert(Bench.readMins(legacy, sf) == Map("q1_agg" -> 0.5))
    assert(Bench.readMins(legacy, "/elsewhere").isEmpty)
    // missing file -> empty, not an exception
    assert(Bench.readMins("/nonexistent/mins.json", sf).isEmpty)
  }

  test("readMins: cpus-namespace isolation (VERDICT r19 #4 — the " +
       "driver's low-core scaling run must not adjudicate or lower " +
       "32-core floors) and the legacy 32 default") {
    val path = tmpMins(
      s"""{"_sf":"$sf","_cpus":"8","q1_agg":0.123}""")
    assert(Bench.readMins(path, sf, "8") == Map("q1_agg" -> 0.123))
    // a file recorded at another core count is ignored wholesale
    assert(Bench.readMins(path, sf, "32").isEmpty)
    assert(Bench.readMins(path, sf).isEmpty) // default param = 32
    // legacy file without the _cpus tag was recorded at the 32 default
    val legacy = tmpMins(s"""{"_sf":"$sf","q1_agg":0.5}""")
    assert(Bench.readMins(legacy, sf, "32") == Map("q1_agg" -> 0.5))
    assert(Bench.readMins(legacy, sf, "8").isEmpty)
    // a tag-only file stays a quiet empty table in both namespaces
    assert(Bench.readMins(
      tmpMins(s"""{"_sf":"$sf","_cpus":"8"}"""), sf, "8").isEmpty)
    // and the per-cpus default paths diverge so an 8-core run can never
    // rewrite the committed 32-core table
    assert(Bench.minsPathFor("32") != Bench.minsPathFor("8"))
    assert(Bench.minsPathFor("32").endsWith("bench_mins.json"))
  }

  test("saveMins: a table recorded under another sf or cpus is left " +
       "untouched; the run's own namespace is rewritten") {
    val committed = s"""{"_sf":"$sf","_cpus":"32","q":0.500}""" + "\n"
    val path = tmpMins(committed)
    // an 8-core run (or a run at another sf) naming the 32-core table
    assert(Bench.saveMins(path, sf, "8", Seq("q" -> 0.2)).nonEmpty)
    assert(Bench.saveMins(path, sf.replace("sf0.1", "sf0.01"), "32",
      Seq("q" -> 0.2)).nonEmpty)
    assert(Files.readString(java.nio.file.Paths.get(path)) == committed)
    // the matching run rewrites it
    assert(Bench.saveMins(path, sf, "32", Seq("q" -> 0.4)).isEmpty)
    assert(Bench.readMins(path, sf, "32") == Map("q" -> 0.4))
  }

  test("readMins: one malformed entry drops that entry, not the table") {
    val path = tmpMins(
      s"""{"_sf":"$sf","good":0.25,"mangled":12..3,"also_good":1.75}""")
    val mins = Bench.readMins(path, sf)
    assert(mins == Map("good" -> 0.25, "also_good" -> 1.75))
  }

  test("readMins: pretty-printed JSON (whitespace after colons) parses " +
       "identically — a hand-edited re-seed must never read as an EMPTY " +
       "table and re-seed every floor from one run (r15 wave 2 incident)") {
    val path = tmpMins(
      s"""{\n "_sf": "$sf",\n "good": 0.25,\n "also_good": 1.75\n}""")
    val mins = Bench.readMins(path, sf)
    assert(mins == Map("good" -> 0.25, "also_good" -> 1.75))
    // sf isolation must survive the whitespace too
    assert(Bench.readMins(path, "/other/sf").isEmpty)
  }

  test("readMins: whitespace BEFORE colons parses too, and a file whose " +
       "entry-shaped content parses to zero entries fails LOUDLY instead " +
       "of quietly disarming the retry ladder") {
    val path = tmpMins(
      s"""{ "_sf" : "$sf", "good" : 0.25, "also_good" : 1.75 }""")
    assert(Bench.readMins(path, sf) ==
      Map("good" -> 0.25, "also_good" -> 1.75))
    // a format the parser genuinely can't read (all values quoted) must
    // throw, not return an empty table
    val bad = tmpMins(s"""{"_sf":"$sf","good":"0.25","also_good":"1.75"}""")
    val ex = intercept[IllegalStateException](Bench.readMins(bad, sf))
    assert(ex.getMessage.contains("ZERO entries"))
    // but a genuinely tag-only file stays a quiet empty table (fresh
    // repo bootstrap), and sf mismatch stays a quiet skip
    assert(Bench.readMins(tmpMins(s"""{"_sf":"$sf"}"""), sf).isEmpty)
    assert(Bench.readMins(bad, "/other/sf").isEmpty)
  }

  test("adjudicateOffenders: a generous floor is refuted as noise, an " +
       "impossibly small floor is confirmed, a deregistered query " +
       "fails loudly — the r17 self-adjudication contract (confirmed " +
       "branch driven by a SYNTHETIC guaranteed-slow registry entry, " +
       "so the verdict never depends on host wall-clock luck)") {
    val spark = Sessions.local("graft-benchspec", "4")
    val sfDir = "/root/testdata/sf0.001"
    // anchors: generous floors → ratios < 1 → factor clamps to 1.0
    val mins = Map("limit1" -> 10.0, "project" -> 10.0,
                   "scan_parquet" -> 10.0,
                   "pagerank_trust" -> 10.0)
    // a registry entry that ALWAYS takes > 0.5 s: on any host, the
    // 1e-4 floor trips both gate conditions (t > 2·floor·factor and
    // t − floor·factor > 0.3) — a live query's warm time can dip
    // under 0.3 s on a fast machine and flake the other way
    val registry = SparkEntry.queries + ("slow_synthetic" ->
      ((s: org.apache.spark.sql.SparkSession, _: String) => {
        Thread.sleep(500); s.range(1).toDF() }))
    val verdicts = Bench.adjudicateOffenders(spark, sfDir,
      offenders = Seq(
        "slow_synthetic" -> 1e-4,
        // a real query against a floor it can't exceed 2× → noise
        "pagerank_trust" -> 100.0,
        // a floor entry with no registry query can't be re-timed
        "no_such_query" -> 1.0),
      mins = mins, registry = registry)
    assert(verdicts.length == 2, verdicts.mkString("\n"))
    assert(verdicts.exists(v =>
      v.startsWith("slow_synthetic") && v.contains("CONFIRMED")))
    assert(verdicts.exists(_.startsWith("no_such_query")))
    // and the refuted offender produced NO verdict
    assert(!verdicts.exists(_.startsWith("pagerank_trust")))
  }

  test("per-query floor gate (BASELINE.md, VERDICT r14 #8, self-" +
       "adjudicating since r17): in the committed quiet bench run, no " +
       "query exceeds 2x its committed all-time floor (+0.3s absolute " +
       "guard for fixed-cost jitter); recorded offenders are re-timed " +
       "in-process (anchor-calibrated min-of-3) and only a CONFIRMED " +
       "regression fails — the r16 incident was a host-noise 2.6x " +
       "sample that judge re-times put at ~1.4x") {
    // repo-root-relative (sbt runs tests from the project root), so
    // the gate stays armed on any checkout location instead of
    // silently skipping outside /root/repo
    val minsPath = "bench_mins.json"
    val benchPath = "bench.json"
    assume(Files.exists(java.nio.file.Paths.get(minsPath)) &&
           Files.exists(java.nio.file.Paths.get(benchPath)),
      "committed bench artifacts required")
    val mins = Bench.readMins(minsPath, sf)
    assume(mins.nonEmpty, "mins recorded at the gate sf")
    val firstLine = Files.readString(java.nio.file.Paths.get(benchPath))
      .linesIterator.next()
    assume(firstLine.contains(s""""sf":"$sf""""),
      "committed bench recorded at the gate sf")
    val steal = """"steal_suspect":(\d+)""".r
      .findFirstMatchIn(firstLine).map(_.group(1).toInt)
    // ASSERT, not assume (VERDICT r19 #1): a committed bench.json with
    // steal suspects silently disarmed this gate for two rounds running
    // (the test auto-canceled instead of failing). The dirty-run
    // quarantine in Bench.main means a hot run can no longer land at
    // the default path, so a dirty committed artifact is a COMMIT
    // mistake the suite must reject loudly.
    assert(steal.contains(0),
      s"committed bench.json is not a quiet run (steal_suspect=$steal) — " +
        "re-run the bench in a quiet window and commit that artifact; " +
        "the floor gate only adjudicates 0-steal runs")
    val queriesBlob = firstLine
      .split("\"queries\":\\{", 2).last.split("\\}", 2).head
    val fresh = """"([^"]+)":([0-9.]+)""".r.findAllMatchIn(queriesBlob)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(fresh.size > 100, s"sanity: parsed ${fresh.size} queries")
    val offenders = fresh.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      mins.get(k).filter(m => v > 2 * m && v - m > 0.3).map(m => (k, m, v))
    }
    // Self-adjudication (VERDICT r16 #1): a recorded sample and its
    // floor come from different sessions, and this host shows sub-3x
    // noise spikes the steal detector can miss in older artifacts.
    // Re-time each offender in THIS process — min of 3 after a
    // warm-up, against anchor queries re-timed in the same session to
    // normalize away the test JVM's horsepower (local[4] here vs the
    // local[32] floors) — and fail only on a confirmed regression.
    // Runs zero Spark work when the committed artifact is clean.
    val confirmed = if (offenders.isEmpty) Nil else {
      val spark = Sessions.local("graft-benchspec",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      Bench.adjudicateOffenders(spark, sf,
        offenders.map { case (k, m, _) => (k, m) }, mins)
    }
    assert(confirmed.isEmpty,
      "confirmed (re-timed in-process) regressions above the " +
        "2x-of-floor gate:\n" + confirmed.mkString("\n") +
        "\n(recorded offenders before adjudication: " +
        offenders.map { case (k, m, v) =>
          f"$k $v%.2fs vs $m%.2fs" }.mkString("; ") + ")")
  }
}
