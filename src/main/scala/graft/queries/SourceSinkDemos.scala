package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.drugbank.Sinks
import graft.ops.{AggOps, StringOps}
import graft.tables.{ScratchDirs, Tables}

/** Driver demos for the source/sink and robustness rows that previously
  * had only unit coverage (SURVEY §2.1 S4/S5/S6, §2.8 U3): each query
  * exercises the real sink/read path against testdata and lands on an
  * oracle-checkable aggregate — the DuckDB oracle computes the same
  * result DIRECTLY from the parquet tables, so a lossy round-trip breaks
  * the hash.
  */
object SourceSinkDemos {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Hive-style partitioned layout round-trip: write partitioned by
    // lang, read back with a partition filter. At scale this is THE
    // mechanism that turns a 100 TB scan into a per-language slice —
    // PlanShapeSpec asserts the re-read plan prunes to the one
    // partition directory (no full-table listing in the plan).
    "partition_prune" -> ((s, dir) => {
      Fixtures.frame("partlang", s, dir, "documents")(
          Tables.documents(s, dir), partitionBy = Seq("lang"))
        .filter(col("lang") === "en")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars_sum"))
        .orderBy("lang")
    }),
    // S4/S6 — parquet checkpoint write + re-read between stages
    // (perform_NER.py:136-142 pickle checkpoint re-specified): the
    // aggregate runs over the RE-READ data, so checkpoint fidelity is
    // what the oracle hash checks.
    "checkpoint_roundtrip" -> ((s, dir) => {
      val stage = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 40)
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val path = ScratchDirs.tmp("ckpt", dir)
      Sinks.writeCheckpoint(stage, path)
      Sinks.readCheckpoint(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
             AggOps.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // S5 — JSON sink write + schema-explicit re-read
    // (look_for_identifiers.py:107-112): longs + strings only (doubles
    // would test JSON float formatting, not the sink path).
    "json_roundtrip" -> ((s, dir) => {
      val path = ScratchDirs.tmp("json", dir)
      Sinks.writeJson(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"), path)
      s.read.schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderpriority", StringType))))
        .json(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             min(col("o_orderkey")).as("min_key"),
             max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    }),
    // S1 — XML source round-trip (DrugBank.scala's corpus scan uses the
    // same built-in Spark 4 XML source against full_database.xml,
    // extract_kg2_node_info.py:24-38): write documents as XML, read back
    // with an explicit schema, aggregate over the RE-READ frame so
    // escaping/fidelity is what the oracle hash checks.
    "xml_roundtrip" -> ((s, dir) => {
      val path = ScratchDirs.tmp("xml", dir)
      Tables.documents(s, dir).select("doc_id", "text")
        .write.mode("overwrite").option("rowTag", "doc")
        .format("xml").save(path)
      s.read.schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("rowTag", "doc").format("xml").load(path)
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"),
             sum(length(col("text")).cast("long")).as("sum_len"))
    }),
    // CSV sink round-trip (the reference's vestigial CSV surface, SURVEY
    // §2.1 S9, re-specified as a live path): quoted/multiline-safe write,
    // schema-explicit re-read, fidelity checked by the length aggregate
    // (document text embeds commas, quotes, and newlines).
    "csv_roundtrip" -> ((s, dir) => {
      val path = ScratchDirs.tmp("csv", dir)
      Tables.documents(s, dir).select("doc_id", "text")
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("header", "true").option("multiLine", "true")
        .csv(path)
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"),
             sum(length(col("text")).cast("long")).as("sum_len"))
    }),
    // ORC sink round-trip: the second columnar format next to parquet —
    // same pushdown/pruning story, exercised through a real write+read.
    "orc_roundtrip" -> ((s, dir) => {
      val path = ScratchDirs.tmp("orc", dir)
      Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars_sum"))
        .orderBy("lang")
    }),
    // binaryFile source — the multimodal ingestion path: raw files on
    // disk → (path, length, content) rows, no decode on the scan.
    // Payload files are derived from document text so the oracle can
    // compute the same byte totals straight from the parquet table.
    "binary_source" -> ((s, dir) => {
      val path = ScratchDirs.tmp("bin", dir)
      val marker = new java.io.File(s"$path/_DONE")
      if (!marker.exists()) {
        new java.io.File(path).mkdirs()
        Tables.documents(s, dir).filter(col("doc_id") < 5)
          .select("doc_id", "text").collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$path/doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
        marker.createNewFile()
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(path)
        .agg(count(lit(1)).as("n_files"),
             sum(length(col("content")).cast("long")).as("sum_bytes"))
    }),
    // REAL image decode (javax.imageio) over binaryFile: solid-color
    // PNG and BMP fixtures whose dimensions and channel values are pure
    // functions of doc_id, so the DuckDB oracle computes the expected
    // stats arithmetically while Spark must actually parse the codec
    // bytes to reproduce them — a wrong decode breaks the hash.
    "image_decode" -> ((s, dir) => {
      val path = ScratchDirs.tmp("img", dir)
      val marker = new java.io.File(s"$path/_DONE")
      if (!marker.exists()) {
        new java.io.File(path).mkdirs()
        (0 until 8).foreach { id =>
          val w = 8 + 3 * id
          val h = 5 + 2 * id
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = ((37 * id + 13) % 256 << 16) |
            ((59 * id + 11) % 256 << 8) | ((83 * id + 29) % 256)
          (0 until h).foreach(y => (0 until w).foreach(x =>
            img.setRGB(x, y, rgb)))
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val ok = javax.imageio.ImageIO.write(
            img, fmt, new java.io.File(s"$path/doc_$id.$fmt"))
          require(ok, s"no JDK $fmt writer registered")
        }
        marker.createNewFile()
      }
      import s.implicits._
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.*").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload"),
          regexp_extract(col("path"), "\\.(png|bmp)$", 1).as("format"),
          col("length").as("n_bytes"))
        .as[graft.extensions.Multimodal.MediaRow]
      graft.extensions.Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("format").as("fmt"), col("width"),
                col("height"), col("r_mean"), col("g_mean"), col("b_mean"))
        .orderBy("doc_id")
    }),
    // REAL raster feature extraction (the decoded=true path of
    // Multimodal.decodeFeatures): 8×8 gradient PNGs whose pixel values
    // are pure functions of (x, y, doc_id), reduced to the 4×4
    // box-filtered luminance grid. Each feature is inverted back to the
    // cell's exact integer (R+G+B) sum (feat × 4·765, round), so the
    // DuckDB oracle re-derives every cell arithmetically from the pixel
    // formula while Spark must actually decode the PNG bytes and run
    // the box filter — a wrong raster or wrong cell bounds breaks the
    // hash.
    "media_features" -> ((s, dir) => {
      val path = ScratchDirs.tmp("feat", dir)
      val marker = new java.io.File(s"$path/_DONE")
      if (!marker.exists()) {
        new java.io.File(path).mkdirs()
        (0 until 6).foreach { id =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          (0 until 8).foreach(y => (0 until 8).foreach { x =>
            val g = (23 * x + 7 * y + 11 * id) % 240
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          })
          val ok = javax.imageio.ImageIO.write(
            img, "png", new java.io.File(s"$path/doc_$id.png"))
          require(ok, "no JDK png writer registered")
        }
        marker.createNewFile()
      }
      import s.implicits._
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.png").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload"), lit("png").as("format"),
          col("length").as("n_bytes"))
        .as[graft.extensions.Multimodal.MediaRow]
      graft.extensions.Multimodal.decodeFeatures(media).toDF()
        .select(col("doc_id"), col("decoded").cast("long").as("decoded"),
                posexplode(col("features")))
        .select(col("doc_id"), col("decoded"),
                col("pos").cast("long").as("cell"),
                // invert the 0..1 luminance mean back to the exact
                // integer cell sum: feat = lum3/(4·765) at 8×8/grid 4
                round(col("col") * lit(3060.0)).cast("long").as("lum3"))
        .orderBy("doc_id", "cell")
    }),
    // REAL multi-frame sampling (javax.imageio GIF sequence reader) over
    // binaryFile: animated-GIF fixtures whose frame count and per-frame
    // solid colors are pure functions of doc_id, so the DuckDB oracle
    // enumerates the stride-sampled frames arithmetically while Spark
    // must actually walk the GIF frame directory and decode each frame
    // to reproduce them.
    "gif_frames" -> ((s, dir) => {
      val path = ScratchDirs.tmp("gif", dir)
      val marker = new java.io.File(s"$path/_DONE")
      if (!marker.exists()) {
        new java.io.File(path).mkdirs()
        (0 until 6).foreach { id =>
          val w = 5 + id
          val h = 4 + id
          val nf = 2 + (id % 4)
          val ios = javax.imageio.ImageIO.createImageOutputStream(
            new java.io.File(s"$path/doc_$id.gif"))
          val wr = javax.imageio.ImageIO
            .getImageWritersByFormatName("gif").next()
          wr.setOutput(ios)
          wr.prepareWriteSequence(null)
          (0 until nf).foreach { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (((20 * id + 10 * f + 3) % 256) << 16) |
              (((31 * id + 7 * f + 5) % 256) << 8) |
              ((13 * id + 11 * f + 8) % 256)
            (0 until h).foreach(y => (0 until w).foreach(x =>
              img.setRGB(x, y, rgb)))
            wr.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
          }
          wr.endWriteSequence(); ios.close(); wr.dispose()
        }
        marker.createNewFile()
      }
      import s.implicits._
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.gif").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload"),
          lit("vid/gif").as("format"),
          col("length").as("n_bytes"))
        .as[graft.extensions.Multimodal.MediaRow]
      graft.extensions.Multimodal.frameStats(
          graft.extensions.Multimodal.sampleFrames(media, stride = 2))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
                col("height"), col("r_mean"), col("g_mean"), col("b_mean"))
        .orderBy("doc_id", "frame_idx")
    }),
    // REAL audio decode (javax.sound.sampled) over binaryFile: WAV PCM
    // square-wave fixtures whose header fields and integer sample stats
    // are pure functions of doc_id — the oracle computes rate/channels/
    // frames/abs-sum/crossings in closed form, Spark must parse the RIFF
    // header and the interleaved 16-bit PCM payload to match the hash.
    "audio_decode" -> ((s, dir) => {
      val path = ScratchDirs.tmp("wav", dir)
      val marker = new java.io.File(s"$path/_DONE")
      if (!marker.exists()) {
        new java.io.File(path).mkdirs()
        (0 until 8).foreach { id =>
          val ch = 1 + (id % 2)
          val n = 64 + 16 * id
          val amp = 100 + 7 * id
          val rate = 8000 + 500 * id
          val pcm = new Array[Byte](n * ch * 2)
          (0 until n).foreach { i =>
            val v = if (i % 2 == 0) amp else -amp
            (0 until ch).foreach { c =>
              val o = 2 * (i * ch + c)
              pcm(o) = (v & 0xff).toByte
              pcm(o + 1) = ((v >> 8) & 0xff).toByte
            }
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, ch, true, false)
          javax.sound.sampled.AudioSystem.write(
            new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
            javax.sound.sampled.AudioFileFormat.Type.WAVE,
            new java.io.File(s"$path/doc_$id.wav"))
        }
        marker.createNewFile()
      }
      import s.implicits._
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.wav").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload"),
          lit("aud/wav").as("format"),
          col("length").as("n_bytes"))
        .as[graft.extensions.Multimodal.MediaRow]
      graft.extensions.Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"),
                col("n_frames"), col("abs_sum"), col("zero_crossings"))
        .orderBy("doc_id")
    }),
    // U3 — failure tolerance as null-safety (the reference wraps per-row
    // work in try/except, utils.py / perform_NER.py invoke guards): every
    // string op null-propagates instead of throwing; downstream coalesce
    // gives the recovery value.
    "null_safety" -> ((s, dir) => {
      val t = when(col("doc_id") % 10 === 0, lit(null).cast("string"))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.extensions.TextAnalysis.tokenCount(t).as("n_tokens"),
          coalesce(StringOps.simplify(t), lit("missing")).as("filled"))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "partition_prune" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "checkpoint_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "json_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "xml_roundtrip" ->
      """SELECT count(*) AS n_docs, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents""".stripMargin,
    "csv_roundtrip" ->
      """SELECT count(*) AS n_docs, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents""".stripMargin,
    "orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "binary_source" ->
      """SELECT count(*) AS n_files,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
        |FROM documents WHERE doc_id < 5""".stripMargin,
    "image_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        |  CAST(8 + 3*doc_id AS BIGINT) AS width,
        |  CAST(5 + 2*doc_id AS BIGINT) AS height,
        |  CAST((37*doc_id + 13) % 256 AS DOUBLE) AS r_mean,
        |  CAST((59*doc_id + 11) % 256 AS DOUBLE) AS g_mean,
        |  CAST((83*doc_id + 29) % 256 AS DOUBLE) AS b_mean
        |FROM documents WHERE doc_id < 8 ORDER BY doc_id""".stripMargin,
    // per-pixel gray = (23x + 7y + 11·id) % 240 on an 8×8 raster; cell
    // (row-major 4×4) sum of R+G+B = 3 × the gray sum of its 2×2 block
    "media_features" ->
      """WITH px AS (SELECT d.doc_id, x.x, y.y,
        |    (23*x.x + 7*y.y + 11*d.doc_id) % 240 AS g
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 6) d,
        |       (SELECT unnest(generate_series(0, 7)) AS x) x,
        |       (SELECT unnest(generate_series(0, 7)) AS y) y)
        |SELECT doc_id, CAST(1 AS BIGINT) AS decoded,
        |  CAST(floor(y/2)*4 + floor(x/2) AS BIGINT) AS cell,
        |  CAST(3*SUM(g) AS BIGINT) AS lum3
        |FROM px GROUP BY doc_id, floor(y/2)*4 + floor(x/2)
        |ORDER BY doc_id, cell""".stripMargin,
    // stride-2 sample of the 2 + (doc_id % 4) frames; solid color per
    // frame → channel means are the exact palette values
    "gif_frames" ->
      """WITH f AS (SELECT doc_id,
        |             unnest(range(0, 2 + doc_id % 4, 2)) AS frame_idx
        |           FROM documents WHERE doc_id < 6)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(5 + doc_id AS BIGINT) AS width,
        |  CAST(4 + doc_id AS BIGINT) AS height,
        |  CAST((20*doc_id + 10*frame_idx + 3) % 256 AS DOUBLE) AS r_mean,
        |  CAST((31*doc_id + 7*frame_idx + 5) % 256 AS DOUBLE) AS g_mean,
        |  CAST((13*doc_id + 11*frame_idx + 8) % 256 AS DOUBLE) AS b_mean
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // square wave at ±(100 + 7·id): abs_sum = channels·frames·amp,
    // one strict sign flip per consecutive sample pair on channel 0
    "audio_decode" ->
      """SELECT doc_id,
        |  CAST(8000 + 500*doc_id AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(64 + 16*doc_id AS BIGINT) AS n_frames,
        |  CAST((1 + doc_id % 2) * (64 + 16*doc_id) * (100 + 7*doc_id)
        |       AS BIGINT) AS abs_sum,
        |  CAST(63 + 16*doc_id AS BIGINT) AS zero_crossings
        |FROM documents WHERE doc_id < 8 ORDER BY doc_id""".stripMargin,
    "null_safety" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) END AS n_tokens,
        |  coalesce(CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE lower(regexp_replace(text, '[[:punct:][:space:]]', '', 'g')) END, 'missing') AS filled
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
