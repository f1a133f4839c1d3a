package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish parquet testdata
  * (TESTDATA.md). Every `SparkEntry.queries` entry receives the sf
  * directory and reads through here so the scan is a plain parquet
  * relation Catalyst can push filters/projections into.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(spark.read.parquet(s"$dir/$name.parquet"), name)

  /** The column types the current testdata generation ships (verified
    * against sf0.01, 2026-08). The generator has already mutated
    * `events.ts` through three parquet flavors across rounds (see
    * [[events]]); this map lets the scan layer absorb the next drift
    * axis — decimal-vs-double prices, int32-vs-int64 keys, date-vs-
    * timestamp dates — instead of surfacing it as a registry-wide
    * analysis error or type mismatch. On undrifted data [[normalized]]
    * is an exact no-op (no Project is added), so pushdown is untouched.
    */
  /** The FULL canonical column list per table (names, canonical types,
    * canonical order) — the projection target for structural drift:
    * a testdata regeneration that ADDS a column (dropped silently),
    * DROPS one (null-filled at the canonical type), or RENAMES one
    * (matched back via [[renameAliases]] or a case/separator-
    * insensitive name fold) still reads as the canonical shape, the
    * same absorb-don't-crash stance [[canonicalTypes]] takes for type
    * drift. Null-filling a dropped column is the documented default —
    * a curation engine must keep reading yesterday's queries over
    * today's files — but it is LOUD (one stderr line per load) so a
    * regeneration that guts a load-bearing column is diagnosable
    * instead of silently nulling a join key.
    */
  private val canonicalSchemas: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Known plausible rename drifts, keyed by [[nameFold]] of the
    * drifted name. Renames the fold can't see through (a column called
    * something semantically different) belong here; `Doc_ID` /
    * `l-orderkey`-style case/separator drift needs no entry.
    */
  private val renameAliases: Map[String, Map[String, String]] = Map(
    "events" -> Map("timestamp" -> "ts", "eventtime" -> "ts",
      "eventts" -> "ts", "time" -> "ts"),
    "documents" -> Map("content" -> "text", "body" -> "text",
      "language" -> "lang", "origin" -> "source"),
    "embeddings" -> Map("vector" -> "embedding", "emb" -> "embedding",
      "vec" -> "embedding"))

  /** Case- and separator-insensitive name fold for rename matching. */
  private def nameFold(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]", "")

  private val canonicalTypes: Map[String, Map[String, DataType]] = Map(
    "region" -> Map(
      "r_regionkey" -> IntegerType),
    "nation" -> Map(
      "n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
    "customer" -> Map(
      "c_custkey" -> LongType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType),
    "supplier" -> Map(
      "s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Map(
      "p_partkey" -> LongType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType),
    "lineitem" -> Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_shipdate" -> TimestampType),
    "events" -> Map(
      "event_id" -> LongType, "user_id" -> LongType,
      "value" -> DoubleType, "ts" -> TimestampType),
    "documents" -> Map(
      "doc_id" -> LongType, "n_chars" -> LongType),
    "embeddings" -> Map(
      "vec_id" -> LongType, "label" -> IntegerType))

  /** Coercion from a drifted parquet flavor back to the canonical type.
    * None = not a recognized drift (leave the column alone rather than
    * guess). LongType→TimestampType is the INT64 TIMESTAMP(NANOS)
    * flavor: `spark.sql.legacy.parquet.nanosAsLong` (Sessions.base)
    * lands it as nanos-since-epoch, truncated here to Spark's native
    * micros — a plain cast would read it as SECONDS.
    */
  private def coerce(name: String, from: DataType, to: DataType): Option[Column] = {
    val c = col(name)
    (from, to) match {
      case (LongType, TimestampType)         =>
        // integral division — `/` on longs goes through double, whose
        // ulp at ~1.7e18 ns is 256 ns (see [[events]]). The div-1000
        // assumes TIMESTAMP(NANOS) provenance (the only INT64 flavor
        // the generator has shipped); an epoch-micros/millis long would
        // load silently wrong by 1000×, so the magnitude is checked
        // per row — post-1973 nanos are ≥1e17, while micros stay below
        // that until year ~5138 — and anything else fails LOUDLY.
        // 0 is the one unit-independent value (the epoch in nanos,
        // micros, or millis alike — a common sentinel), so it loads as
        // the epoch instead of poisoning the whole table.
        // Deliberately PER-ROW, not a column-level magnitude vote: the
        // generator has only ever shipped 2020s-era instants, so the
        // 1967-1973 nanos window the per-row guard rejects cannot
        // occur in legal data here, and a lone out-of-band value is
        // more likely a unit mix-up worth failing on than a historical
        // timestamp (extend with an aggregate vote if a near-epoch
        // corpus ever becomes legal). Negative (pre-epoch) nanos
        // divide with FLOOR semantics — a bare `div` truncates toward
        // zero, rounding pre-epoch instants UP a microsecond.
        Some(when(c.isNull, lit(null).cast(to))
          .when(c === 0L, timestamp_micros(lit(0L)))
          .when(abs(c) >= 100000000000000000L,
            timestamp_micros(expr(s"`$name` div 1000") -
              when(expr(s"`$name` % 1000") < 0, lit(1L)).otherwise(lit(0L))))
          .otherwise(raise_error(concat(
            lit(s"$name: INT64 value "), c.cast("string"),
            lit(" is not nanos-since-epoch magnitude; refusing to " +
              "guess the epoch unit — extend Tables.coerce for this " +
              "drift flavor")))))
      case (TimestampNTZType, TimestampType) => Some(c.cast(to))
      case (DateType, TimestampType)         => Some(c.cast(to))
      case (_: NumericType, _: NumericType)  => Some(c.cast(to))
      case _                                 => None
    }
  }

  /** Project `df` back to the canonical schema for `name`, absorbing
    * BOTH drift axes:
    *   - type drift ([[canonicalTypes]] + [[coerce]], unchanged): a
    *     pinned column arriving at a recognized drifted type is cast
    *     back; unrecognized type drift is left alone rather than
    *     guessed at.
    *   - structural drift ([[canonicalSchemas]]): a RENAMED column
    *     (via [[renameAliases]] or the case/separator-insensitive
    *     [[nameFold]]) maps back to its canonical name — and then
    *     through the same type coercion; an ADDED column is dropped;
    *     a DROPPED column is null-filled at its canonical type. Two
    *     source columns competing for one canonical name fail loudly
    *     (a guess would silently pick a join key).
    * Structural absorption logs one stderr line naming what it did.
    * No-op (same DataFrame instance, no extra Project — pushdown
    * untouched) when nothing drifted, the common case.
    */
  def normalized(df: DataFrame, name: String): DataFrame = {
    val canon = canonicalSchemas.getOrElse(name, Seq.empty)
    val pinned = canonicalTypes.getOrElse(name, Map.empty)
    if (canon.isEmpty) return df
    val have = df.columns.toSeq
    val haveSet = have.toSet
    val canonNames = canon.map(_._1)
    val missing = canonNames.filterNot(haveSet)
    val extra = have.filterNot(canonNames.toSet)
    val aliases = renameAliases.getOrElse(name, Map.empty)
    // src drifted-name -> canonical name, only onto MISSING targets
    val renames: Map[String, String] = extra.flatMap { e =>
      aliases.get(nameFold(e)).orElse(missing.find(nameFold(_) == nameFold(e)))
        .filter(missing.contains).map(e -> _)
    }.toMap
    renames.groupBy(_._2).foreach { case (tgt, srcs) =>
      require(srcs.size == 1,
        s"$name: columns ${srcs.keys.toSeq.sorted.mkString(", ")} all " +
          s"look like a renamed '$tgt' — refusing to guess; fix " +
          "Tables.renameAliases for this drift flavor")
    }
    val srcFor = renames.map(_.swap)
    var typeFixed = false
    val exprs: Seq[Column] = canon.map { case (cn, ct) =>
      (if (haveSet(cn)) Some(cn) else srcFor.get(cn)) match {
        case Some(src) =>
          val from = df.schema(src).dataType
          pinned.get(cn) match {
            case Some(to) if to != from =>
              coerce(src, from, to) match {
                case Some(c) => typeFixed = true; c.as(cn)
                case None    => col(src).as(cn)
              }
            case _ => col(src).as(cn)
          }
        case None => lit(null).cast(ct).as(cn)
      }
    }
    val dropped = extra.filterNot(renames.contains)
    val nullFilled = missing.filterNot(renames.valuesIterator.toSet)
    val structural =
      renames.nonEmpty || dropped.nonEmpty || nullFilled.nonEmpty
    // a pure column REORDER is reprojected silently: logging it would
    // emit a drift line naming nothing (renamed {}, dropped {},
    // null-filled {}) and dilute the deliberately-loud log for real
    // structural drift
    val reordered = !structural && have != canonNames
    if (structural)
      System.err.println(s"[graft.Tables] $name: absorbing structural " +
        s"drift (renamed ${renames.toSeq.sorted.mkString("{", ",", "}")}," +
        s" dropped ${dropped.mkString("{", ",", "}")}, null-filled " +
        s"${nullFilled.mkString("{", ",", "}")})")
    if (!structural && !reordered && !typeFixed) df else df.select(exprs: _*)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in three parquet flavors across
    * testdata regenerations; all three must read to the same UTC-instant
    * TimestampType column:
    *   - INT64 TIMESTAMP(NANOS): Spark's reader rejects it natively, so
    *     sessions set `spark.sql.legacy.parquet.nanosAsLong=true`
    *     (Sessions.base) and it arrives as nanos-since-epoch LongType,
    *     converted here to micros (truncation — Spark's native precision);
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=true: already TimestampType;
    *   - TIMESTAMP(MICROS) without tz metadata: arrives TIMESTAMP_NTZ,
    *     cast to TimestampType — instant-exact because the session
    *     timezone is pinned UTC (Sessions.base).
    * All three coercions live in [[normalized]]/[[coerce]], which now
    * covers every table's likely drift axes, not just this one.
    */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cheap content stamp of one table's parquet under `dir` (file
    * names + sizes + mtimes, sorted): the memo key for per-corpus
    * offline artifacts (index/Bloom/stats caches), so a driver-side
    * testdata regeneration mid-session invalidates them instead of
    * serving a stale index against the new data — the oracle always
    * recomputes from the files on disk, so a path-keyed memo would
    * silently diverge.
    */
  def contentStamp(dir: String, name: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$dir/$name.parquet")
    val parts =
      if (root.exists()) walk(root)
        .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}").sorted
      else Seq("missing")
    s"$dir/$name.parquet|${parts.mkString(",")}"
  }
}

/** Collision-free per-(corpus-dir, process) tag for on-disk artifact
  * names and paths: distinct dirs must NEVER share a tag — a lossy
  * sanitization (`replaceAll("[^A-Za-z0-9]", "_")`) maps e.g.
  * `/data/sf-1` and `/data/sf_1` to the same name, and the artifact
  * builders (DROP + delete + rebuild) would then silently serve one
  * corpus's data for the other.
  */
object ArtifactTag {
  def apply(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    s"${h}_${ProcessHandle.current().pid()}"
  }
}

/** Per-pid scratch paths registered for deletion at JVM exit: a
  * pid-keyed artifact dir is unreachable by any later process (a new
  * pid makes a new tag), so leaving it behind is pure accumulation —
  * hundreds of orphaned table/index dirs per test day. Registration is
  * idempotent and the hook swallows everything (exit-path best effort).
  */
object ScratchDirs {
  private val registered = scala.collection.mutable.LinkedHashSet.empty[String]
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.foreach { p =>
        try deleteRecursively(new java.io.File(p))
        catch { case _: Throwable => () }
      }))

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Register `path` for exit-time deletion; returns it unchanged. */
  def register(path: String): String = synchronized {
    hookInstalled
    registered += path
    path
  }

  /** Whether `path` equals or sits under a registered scratch path —
    * i.e. is a location this process owns and may destroy. Rebuild
    * logic (e.g. Partitioning.bucketedTable) scopes its pre-write
    * recursive delete to covered paths so a caller-supplied path
    * holding unrelated data errors instead of vanishing.
    */
  def covers(path: String): Boolean = synchronized {
    val p = java.nio.file.Paths.get(path).normalize()
    registered.exists { r =>
      val rp = java.nio.file.Paths.get(r).normalize()
      p == rp || p.startsWith(rp)
    }
  }

  /** The canonical per-(corpus, pid) tmp path for artifact family
    * `family`, registered for exit cleanup.
    */
  def tmp(family: String, dir: String): String =
    register(s"${sys.props("java.io.tmpdir")}/graft_${family}_" +
      ArtifactTag(dir))
}
