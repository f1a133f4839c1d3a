package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.constants.Constants
import graft.drugbank.{DrugBank, Sinks, Stage1, Stage2}
import graft.ner.{DictionaryNer, EntityLinker}
import graft.ops.StringOps
import graft.stage2.IdentifierAlignment
import graft.synonymizer.Synonymizer

/** The paper-pipeline benchmark: one driver thread, a closed loop of
  * operations against a `local[nproc]` session.
  *
  * {{{
  * java ... perfbench.Bench --workload ref_text --seed 1 --seconds 20 \
  *   --trace 0 --work <dir> --artifact <file>
  * }}}
  *
  * The last stdout line is the result object; `--artifact` gets the
  * self-describing record of the run (inputs, host, samples, layers).
  */
object Bench {

  /** Workload -> generated input shape (see README.md for the why).
    * Both share one KG; only `ref_mixed` reads the DrugBank XML.
    */
  val Workloads: Map[String, Shape] = Map(
    "ref_mixed" -> Shape(drugs = 1024, fillerNodes = 36000),
    "syn_lookup" -> Shape(drugs = 1024, fillerNodes = 36000))

  val SetupRepeats = 3
  // The JIT keeps speeding lookup calls up for about 20 rounds. A fixed
  // count, not a time, so a slow host does not also leave them colder.
  val WarmRounds = 20

  val Layers: Seq[String] = Seq("drugbank.scan", "drugbank.records", "synonymizer",
    "ner", "drugbank.stage1", "stage2.align", "drugbank.stage2", "drugbank.sinks")

  /** One measured operation; `kind` is "pipeline" or the lookup call's
    * key count.
    */
  final case class Sample(kind: String, wallS: Double, cpuS: Double, outBytes: Long,
                          ok: Boolean)

  /** What set-up builds; every operation runs against it. */
  final class Ctx(val spark: SparkSession, val syn: Synonymizer,
                  val ner: EntityLinker, val align: IdentifierAlignment)

  /** Spans when tracing, pass-through otherwise. */
  final class Spans(val tracer: Option[Tracer]) {
    def apply[A](name: String)(body: => A): A = tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
  }

  /** The NER layer seen through spans: Stage1 calls these methods. */
  final class SpannedLinker(inner: EntityLinker, sp: Spans) extends EntityLinker {
    def textToKg2Nodes(docs: DataFrame, keyCol: String, textCol: String,
                       categories: Set[String]): DataFrame =
      sp("ner")(inner.textToKg2Nodes(docs, keyCol, textCol, categories))
    override def textToKg2NodesByPass(docs: DataFrame, keyCol: String, textCol: String,
                                      categoriesByPass: Map[String, Set[String]]): DataFrame =
      sp("ner")(inner.textToKg2NodesByPass(docs, keyCol, textCol, categoriesByPass))
    override def asMap(matches: DataFrame): DataFrame = sp("ner")(inner.asMap(matches))
  }

  // ---- host readings -------------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow: Double = osBean.getProcessCpuTime / 1e9

  def statusKb(key: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** (steal, total) jiffies of the whole host, from /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Heap still in use after the loop, once garbage is collected and
    * Spark has dropped the blocks of frames nothing references: what the
    * session, the KG-backed objects and any cache they keep hold on to.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // Spark's cleaner drops blocks on its own thread after a collection
    // finds them unreferenced, so collect a few times and keep the least
    (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      (rt.totalMemory - rt.freeMemory) / 1e6
    }.min
  }

  // ---- set-up --------------------------------------------------------

  def session(cpus: Int): SparkSession = graft.Sessions.local("perfbench", cpus.toString)

  def setup(cpus: Int, kg: Kg): Ctx = {
    val spark = session(cpus)
    val nodes = spark.read.parquet(kg.nodes)
    val clusters = spark.read.parquet(kg.clusters)
    val edges = spark.read.parquet(kg.edges)
    val syn = new Synonymizer(nodes, clusters, edges)
    val ctx = new Ctx(spark, syn, new DictionaryNer(nodes, clusters), new IdentifierAlignment(syn))
    // the synonymizer reads the KG lazily: one lookup makes set-up pay
    // for whatever its first use builds
    import spark.implicits._
    syn.canonicalCuriesByCurie(Seq("DRUGBANK:DB00000").toDF("input")).collect()
    ctx
  }

  // ---- operations ----------------------------------------------------

  val SinkNames = Seq("kg2_drug_info.json", "kg2_drug_info.parquet",
    "DrugBank_aligned_with_KG2.json", "DrugBank_aligned_with_KG2.parquet")

  /** Input XML on disk to all four sinks written: Stage 1, its JSON and
    * parquet checkpoint, Stage 2 off the re-read checkpoint, its JSON
    * and parquet. The checkpoint write, re-read and Stage2.run are the
    * body of Stage2.runCheckpointed, called one by one so each sink is
    * its own span.
    */
  def pipelineOp(ctx: Ctx, xml: String, out: String, sp: Spans): Unit = {
    val spark = ctx.spark
    val drugs = sp("drugbank.scan")(DrugBank.readXml(spark, xml))
    val s1 = sp("drugbank.stage1")(
      Stage1.run(drugs, ctx.syn, new SpannedLinker(ctx.ner, sp)))
    sp("drugbank.sinks")(Sinks.writeJson(s1, s"$out/${SinkNames(0)}"))
    sp("drugbank.sinks")(Sinks.writeCheckpoint(s1, s"$out/${SinkNames(1)}"))
    val back = sp("drugbank.sinks")(Sinks.readCheckpoint(spark, s"$out/${SinkNames(1)}"))
    val s2 = sp("drugbank.stage2")(Stage2.run(back, ctx.align))
    sp("drugbank.sinks")(Sinks.writeJson(s2, s"$out/${SinkNames(2)}"))
    sp("drugbank.sinks")(Sinks.writeCheckpoint(s2, s"$out/${SinkNames(3)}"))
  }

  def outputBytes(out: String): Long = SinkNames.map(n => Gen.dirBytes(s"$out/$n")).sum

  private def jsonLines(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().size.toLong finally src.close()
      }.sum

  /** Closed-form check of the four sinks; returns the mismatches. */
  def checkPipeline(spark: SparkSession, out: String, t: PipelineTruth): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$what: got $got, want $want"
    val s1 = spark.read.parquet(s"$out/${SinkNames(1)}")
    val r1 = s1.agg(count(lit(1)), sum(size(col("indication_NER_aligned"))),
      sum(size(col("mechanistic_intermediate_nodes")))).head()
    expect("stage-1 records", r1.getLong(0), t.records)
    expect("indication entries", r1.getLong(1), t.indEntries)
    expect("stage-1 mechanistic entries", r1.getLong(2), t.mechEntries1)
    val s2 = spark.read.parquet(s"$out/${SinkNames(3)}")
    val rows = s2.select(explode(col("mechanistic_intermediate_nodes")).as(Seq("k", "v")))
      .groupBy(substring_index(col("k"), ":", 1).as("ns"))
      .agg(count(lit(1)).as("n"), sum(when(col("k").startsWith("CHEM:") &&
        col("v.name").startsWith("Drugamine"), 1).otherwise(0)).as("kept"))
      .collect()
    expect("stage-2 entries by namespace",
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap, t.stage2ByNamespace)
    expect("first-wins stage-1 names kept",
      rows.map(_.getLong(2)).sum, t.keptMentionNames)
    expect("stage-2 records", s2.count(), t.records)
    expect("stage-1 JSON rows", jsonLines(s"$out/${SinkNames(0)}"), t.records)
    expect("stage-2 JSON rows", jsonLines(s"$out/${SinkNames(2)}"), t.records)
    bad.toSeq
  }

  /** One lookup call, collected to the driver. As in the reference, a
    * call may hold curies and names; each goes its own path.
    */
  def runLookup(ctx: Ctx, call: LookupCall, sp: Spans): Array[org.apache.spark.sql.Row] = {
    import ctx.spark.implicits._
    val (curies, names) = call.keys.partition(Gen.isCurie)
    def run(keys: Seq[String], lookup: DataFrame => DataFrame) =
      if (keys.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else lookup(keys.toDF("input")).collect()
    sp("synonymizer") {
      run(curies, ctx.syn.canonicalCuriesByCurie(_)) ++
        run(names, ctx.syn.canonicalCuriesByName(_))
    }
  }

  /** Check a call against its expected answers: (result bytes, errors,
    * resolved inputs).
    */
  def checkLookup(call: LookupCall, rows: Array[org.apache.spark.sql.Row])
      : (Long, Seq[String], Long) = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (rows.length != call.expected.size)
      bad += s"lookup rows: got ${rows.length}, want ${call.expected.size}"
    var bytes = 0L
    var resolved = 0L
    rows.foreach { r =>
      val input = r.getString(0)
      val curie = Option(r.getString(1))
      bytes += (0 until r.length).map(i => Option(r.get(i)).map(_.toString.length).getOrElse(0)).sum
      if (curie.isDefined) resolved += 1
      if (!call.expected.get(input).contains(curie))
        bad += s"lookup $input: got $curie, want ${call.expected.get(input).flatten}"
    }
    (bytes, bad.take(5).toSeq, resolved)
  }

  /** Generate the lookup keys, warm the lookup path with `WarmRounds`,
    * then run rounds of one call of each size through `op` until
    * `seconds` have passed, ending on a whole round. Returns the
    * generation and warm-up times and the samples. The keys live only in
    * this frame, so they are garbage once it returns.
    */
  def lookupRounds(ctx: Ctx, shape: Shape, seed: Long, seconds: Double,
                   op: LookupCall => Sample): (Double, Double, Seq[Sample]) = {
    val g0 = System.nanoTime()
    val probes = Gen.probes(shape, seed)
    val w0 = System.nanoTime()
    val warm = new SplittableRandom(~seed)
    for (_ <- 1 to WarmRounds; n <- Gen.CallSizes)
      runLookup(ctx, Gen.lookupCall(warm, probes, n), new Spans(None))
    val start = System.nanoTime()
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val done = mutable.ArrayBuffer.empty[Sample]
    while (done.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      done ++= Gen.CallSizes.map(n => op(Gen.lookupCall(rng, probes, n)))
    ((w0 - g0) / 1e9, (start - w0) / 1e9, done.toSeq)
  }

  // ---- the traced layer pass ----------------------------------------

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-layer metrics of one traced pipeline run, plus each lazily
    * fused layer timed alone on materialized input.
    */
  def tracedPipeline(ctx: Ctx, in: Drugs, out: String, tracer: Tracer)
      : (Map[String, Double], Double, Seq[String]) = {
    val spark = ctx.spark
    val sp = new Spans(Some(tracer))
    val bad = mutable.ArrayBuffer.empty[String]
    tracer.reset()
    val t0 = System.nanoTime()
    pipelineOp(ctx, in.xmlPath, out, sp)
    val tracedWall = (System.nanoTime() - t0) / 1e9
    val pipe = tracer.report()
    val unattributedPipe = tracer.unattributedJobs
    bad ++= sp("bench.check")(checkPipeline(spark, out, in.truth))
    val sinkBytes = outputBytes(out)

    // the fused layers alone, each on materialized input
    tracer.reset()
    def prep[A](body: => A): A = sp("bench.prep")(body)
    sp("drugbank.scan")(noop(DrugBank.readXml(spark, in.xmlPath)))
    val drugsM = prep(DrugBank.readXml(spark, in.xmlPath).localCheckpoint(true))
    sp("drugbank.records")(noop(DrugBank.records(drugsM, ctx.syn)))
    val s1M = prep(Sinks.readCheckpoint(spark, s"$out/${SinkNames(1)}").localCheckpoint(true))
    val idsIn = prep(drugsM.select(StringOps.withPrefix(Constants.DbPrefix,
      col("drugbank-id").getItem(0).getField("_VALUE")).as("input")).distinct()
      .localCheckpoint(true))
    val names = prep(Stage2.minedNames(s1M).localCheckpoint(true))
    val ids = prep(Stage2.minedIds(s1M).localCheckpoint(true))
    val namesIn = prep(names.select(col("name").as("input")).distinct().localCheckpoint(true))
    val byId = sp("synonymizer")(ctx.syn.canonicalCuriesByCurie(idsIn).localCheckpoint(true))
    val byName = sp("synonymizer")(ctx.syn.canonicalCuriesByName(namesIn).localCheckpoint(true))
    // NER input exactly as Stage1 tags it: the indication pass and the
    // mechanistic pass over the concatenated text fields
    val mechText = concat(Constants.MostlyTextFields.map { f =>
      when(col(f).isNotNull && length(col(f)) > 0,
        concat(StringOps.removeBrackets(col(f)), lit("\n "))).otherwise(lit(""))
    }: _*)
    val tagged = prep(s1M.filter(col("indication").isNotNull)
      .select(struct(lit("ind").as("pass"), col("kg2_id").as("k")).as("pk"),
        StringOps.removeBrackets(col("indication")).as("text"))
      .unionByName(s1M.select(struct(lit("mech").as("pass"), col("kg2_id").as("k")).as("pk"),
        mechText.as("text")))
      .localCheckpoint(true))
    val hits = sp("ner")(ctx.ner.textToKg2NodesByPass(tagged, "pk", "text",
      Map("ind" -> Constants.IndicationCategories,
          "mech" -> Constants.MechanisticCategories)).localCheckpoint(true))
    sp("ner")(noop(ctx.ner.asMap(hits
      .filter(col("doc_key").getField("pass") === "mech")
      .select(col("doc_key").getField("k").as("doc_key"),
        col("curie"), col("name"), col("category")))))
    sp("stage2.align")(noop(ctx.align.mechanisticNodes(names, ids)))
    val counts = prep {
      def resolvedOf(df: DataFrame) = df.filter(col("preferred_curie").isNotNull).count()
      Map(
        "syn_in" -> (byId.count() + byName.count()).toDouble,
        "syn_hit" -> (resolvedOf(byId) + resolvedOf(byName)).toDouble,
        "names" -> names.count().toDouble,
        "name_hits" -> ctx.align.alignNames(names).count().toDouble,
        "ids" -> ids.count().toDouble,
        "id_hits" -> ctx.align.alignIds(ids).count().toDouble,
        "sentences" -> tagged.select(explode(StringOps.sentences(col("text")))).count().toDouble,
        "kept" -> DictionaryNer.sentences(tagged, "pk", "text").count().toDouble)
    }
    val fused = tracer.report()
    val mentionRows = tracer.operatorRows("ner", "Generate", "ngrams")
    val hitRows = tracer.operatorRows("ner", "Join", "mention_key")
    val unattributedFused = tracer.unattributedJobs
    if (unattributedPipe + unattributedFused > 0)
      bad += s"unattributed jobs: ${unattributedPipe + unattributedFused}"

    val fromPipe = Set("drugbank.stage1", "drugbank.stage2", "drugbank.sinks")
    val layer = Layers.map(l =>
      l -> (if (fromPipe(l)) pipe else fused).getOrElse(l, LayerStats.Zero)).toMap
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers; (m, v, _) <- layer(l).fields) metrics(s"$l.$m") = v
    metrics("ner.hit_ratio") = ratio(hitRows, mentionRows)
    metrics("ner.sentence_keep_ratio") = ratio(counts("kept"), counts("sentences"))
    metrics("drugbank.records.resolved_ratio") =
      ratio(layer("drugbank.records").rowsOut, layer("drugbank.scan").rowsOut)
    metrics("stage2.align.name_hit_ratio") = ratio(counts("name_hits"), counts("names"))
    metrics("stage2.align.id_hit_ratio") = ratio(counts("id_hits"), counts("ids"))
    metrics("synonymizer.resolved_ratio") = ratio(counts("syn_hit"), counts("syn_in"))
    metrics("drugbank.sinks.bytes_per_row") =
      ratio(sinkBytes.toDouble, layer("drugbank.sinks").rowsOut)
    (metrics.toMap, tracedWall, bad.toSeq)
  }

  /** Per-layer metrics of one traced call of each size. */
  def tracedLookups(ctx: Ctx, calls: Seq[LookupCall], tracer: Tracer)
      : (Map[String, Double], Double, Seq[String]) = {
    tracer.reset()
    val sp = new Spans(Some(tracer))
    val bad = mutable.ArrayBuffer.empty[String]
    var resolved = 0L
    val t0 = System.nanoTime()
    calls.foreach { c =>
      val (_, errs, r) = checkLookup(c, runLookup(ctx, c, sp))
      bad ++= errs; resolved += r
    }
    // a mean over one call of each size, as the untraced figure is
    val wall = (System.nanoTime() - t0) / 1e9 / calls.size
    val rep = tracer.report()
    if (tracer.unattributedJobs > 0) bad += s"unattributed jobs: ${tracer.unattributedJobs}"
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers; (m, v, _) <- rep.getOrElse(l, LayerStats.Zero).fields)
      metrics(s"$l.$m") = v
    Seq("ner.hit_ratio", "ner.sentence_keep_ratio", "drugbank.records.resolved_ratio",
      "stage2.align.name_hit_ratio", "stage2.align.id_hit_ratio",
      "drugbank.sinks.bytes_per_row").foreach(metrics(_) = 0.0)
    metrics("synonymizer.resolved_ratio") =
      resolved.toDouble / calls.map(_.expected.size).sum
    (metrics.toMap, wall, bad.toSeq)
  }

  // ---- statistics and output ----------------------------------------

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** A per-operation figure: the median within each kind of operation,
    * averaged over the kinds, so each kind weighs the same whatever the
    * number of its samples.
    */
  def perOp(samples: Seq[Sample])(f: Sample => Double): Double =
    mean(samples.groupBy(_.kind).values.map(ks => median(ks.map(f))).toSeq)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case o => json(o.toString)
  }

  private val started = System.nanoTime()
  /** Progress on stderr, so a slow or stuck run shows its phase. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  // ---- main ----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val shape = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val pipeline = workload == "ref_mixed"

    val steal0 = cpuJiffies
    val kg = Gen.ensureKg(() => session(cpus), shape, a("cache"))

    // set-up, several times; the last context stays up for the run
    val setups = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (i <- 1 to SetupRepeats) {
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx = setup(cpus, kg)
      setups += (System.nanoTime() - t0) / 1e9
      log(f"set-up $i: ${setups.last}%.2f s")
    }

    // seeded inputs, generated after set-up and not part of it
    val g0 = System.nanoTime()
    val in = if (pipeline) Some(Gen.writeDrugs(ctx.spark, shape, seed, s"$work/input")) else None
    var genS = (System.nanoTime() - g0) / 1e9

    val out = s"$work/out"
    val none = new Spans(None)
    val errors = mutable.ArrayBuffer.empty[String]
    /** Time `op` with tracing off; the check it returns runs after the
      * clock stops. A mismatch or an exception fails the operation and
      * the run goes on.
      */
    def measure(kind: String)(op: => () => (Long, Seq[String])): Sample = {
      val c0 = cpuNow; val t0 = System.nanoTime()
      try {
        val check = op
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = cpuNow - c0
        val (bytes, errs) = check()
        errors ++= errs.take(5)
        Sample(kind, wall, cpu, bytes, errs.isEmpty)
      } catch {
        case e: Exception =>
          errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          Sample(kind, (System.nanoTime() - t0) / 1e9, cpuNow - c0, 0L, ok = false)
      }
    }
    def lookupOp(call: LookupCall): Sample = measure(call.keys.size.toString) {
      val rows = runLookup(ctx, call, none)
      () => { val (b, e, _) = checkLookup(call, rows); (b, e) }
    }

    // The pipeline is a batch job that runs once per process, so the
    // measured operation is the one first run, and it pays code
    // generation and JIT as every real run does. A lookup service lives
    // in a warm JVM, so its calls are measured after a warm-up.
    var warmS = 0.0
    val samples: Seq[Sample] =
      if (pipeline) Seq(measure("pipeline") {
        pipelineOp(ctx, in.get.xmlPath, out, none)
        () => (outputBytes(out), checkPipeline(ctx.spark, out, in.get.truth))
      })
      else {
        val (g, w, done) = lookupRounds(ctx, shape, seed, seconds, lookupOp)
        genS += g; warmS = w
        done
      }
    log(f"inputs generated in $genS%.2f s, warm-up $warmS%.2f s")
    samples.foreach(x => log(f"op ${x.kind}: ${x.wallS}%.3f s wall, ${x.cpuS}%.2f s cpu, ok=${x.ok}"))
    // the lookup keys and the planted KG behind them are garbage by now,
    // so this reads what the program keeps
    val heapMb = retainedHeapMb()

    // traced pass: per-layer metrics, measured apart from the loop above
    var layerMetrics = Map.empty[String, Double]
    var tracedWall = Double.NaN
    var untracedWall = perOp(samples)(_.wallS)
    var tracedOk = Seq.empty[Boolean]
    if (traced) {
      // the measured pipeline run was cold; compare the traced run with
      // an untraced run just as warm
      if (pipeline) {
        val t0 = System.nanoTime()
        pipelineOp(ctx, in.get.xmlPath, out, none)
        untracedWall = (System.nanoTime() - t0) / 1e9
      }
      val tracer = new Tracer(ctx.spark)
      val (m, w, errs) =
        if (pipeline) tracedPipeline(ctx, in.get, s"$work/traced", tracer)
        else {
          val probes = Gen.probes(shape, seed)
          val rng = new SplittableRandom(seed + 1)
          tracedLookups(ctx, Gen.CallSizes.map(Gen.lookupCall(rng, probes, _)), tracer)
        }
      tracer.close()
      layerMetrics = m; tracedWall = w
      errors ++= errs
      tracedOk = Seq(errs.isEmpty)
    }
    val rssMb = statusKb("VmHWM") / 1024.0
    val steal1 = cpuJiffies
    val stealShare = {
      val dt = steal1._2 - steal0._2
      if (dt <= 0) 0.0 else (steal1._1 - steal0._1).toDouble / dt
    }
    val attempted = samples.size + tracedOk.size
    val failed = samples.count(!_.ok) + tracedOk.count(!_)
    val endToEnd = Seq(
      ("setup_s", median(setups.toSeq), "s"),
      ("op_s", perOp(samples)(_.wallS), "s"),
      ("cpu_s", perOp(samples)(_.cpuS), "s"),
      ("heap_mb", heapMb, "MB"),
      ("output_mb", perOp(samples)(_.outBytes / 1e6), "MB"),
      ("ok_share", (attempted - failed).toDouble / attempted, "share"))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd
      else layerMetrics.toSeq.sortBy(_._1).map { case (k, v) => (k, v, layerUnit(k)) }

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "operation" -> (if (pipeline) "pipeline run" else "lookup call"),
      "inputs" -> mutable.LinkedHashMap(
        "drugs" -> shape.drugs, "kg_nodes" -> (shape.fillerNodes + Gen.plantedNodes(shape.drugs)),
        "xml_bytes" -> in.map(_.bytes).getOrElse(0L), "parquet_bytes" -> kg.bytes,
        "text_chars" -> in.map(_.truth.textChars).getOrElse(0L), "generate_s" -> genS),
      "warmup_s" -> warmS,
      "truth" -> in.map(d => mutable.LinkedHashMap(
        "records" -> d.truth.records, "indication_entries" -> d.truth.indEntries,
        "stage1_mechanistic_entries" -> d.truth.mechEntries1,
        "stage2_name_additions" -> d.truth.nameAdditions,
        "stage2_id_additions" -> d.truth.idAdditions,
        "stage2_by_namespace" -> d.truth.stage2ByNamespace)).orNull,
      "host" -> mutable.LinkedHashMap(
        "nproc" -> cpus, "driver_memory_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.version"),
        "source" -> sys.env.getOrElse("PERFBENCH_SOURCE", "unknown"),
        "cpu_steal_share" -> stealShare,
        "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum / 1e3,
        "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
        "peak_rss_mb" -> rssMb,
        "steal_warning" -> (stealShare > 0.05)),
      "setup_s" -> setups.toSeq,
      "op_kind" -> samples.map(_.kind), "op_wall_s" -> samples.map(_.wallS),
      "op_cpu_s" -> samples.map(_.cpuS),
      "tracing_overhead" -> (if (traced) tracedWall / untracedWall else Double.NaN),
      "errors" -> errors.take(20).toSeq,
      "metrics" -> metrics.map { case (k, v, u) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
        .to(mutable.LinkedHashMap))
    a.get("artifact").foreach { p =>
      val w = new java.io.PrintWriter(p, "UTF-8")
      try w.println(json(artifact)) finally w.close()
    }
    errors.take(5).foreach(e => System.err.println(s"[perfbench] $e"))
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> artifact("metrics"))
    ctx.spark.stop()
    println(json(result))
  }

  def layerUnit(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "bytes_per_row" => "B/row"
    case m if m.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}
