package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) travels as an
  * opaque `binary` column plus a typed metadata struct; decode /
  * feature-extraction runs as a typed partition-local pipeline.
  *
  * Two tiers:
  *  - q126/q127/q128/q140 are REAL decoders: BMP (24-bit uncompressed)
  *    and WAV (RIFF/PCM16) are pure byte layouts, PNG's DEFLATE stream
  *    is the JDK's own zlib (`java.util.zip.Inflater`), and QOI is a
  *    self-contained public spec — none needs an external codec.
  *    Genuine files are generated, byte-level parsed (headers and CRCs
  *    validated, row stride/filters honored, chunks walked), and exact
  *    integer features are hash-checked against a closed-form oracle.
  *    QOI additionally ships THROUGH the [[Multimodal.MediaDecoder]]
  *    seam, proving the trait boundary carries a non-stub codec.
  *  - q144 is REAL baseline JPEG via the JDK's `javax.imageio` with a
  *    planted-truth oracle (lossy output is decoder-stable, not
  *    closed-form).
  *  - q50/q152 parse REAL MP4/ISO-BMFF container structure ([[Mp4]]):
  *    the box walk (ftyp/moov/trak/stbl), track geometry, codec id,
  *    frame counts, keyframe sample table and durations — the fields a
  *    100 TB multimodal curation pass actually filters on. Full H.264
  *    PIXEL decode stays out of scope (the JDK ships no H.264 and a
  *    hand-rolled lossy decoder would be oracle-unverifiable); that
  *    boundary is explicit: container metadata is parsed and
  *    closed-form oracle-checked, elementary-stream decode plugs into
  *    the same [[Multimodal.MediaDecoder]] seam the five real codecs
  *    already ride through.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Raw "media" record: id + opaque bytes (what a real pipeline reads
    * from object storage). */
  case class MediaRow(doc_id: Long, media: Array[Byte])
  /** Extracted features. `checksum` is the content-proof channel: a
    * REAL decoder reports a function of the decoded pixels/samples (the
    * QOI decoder sums RGB values; the MP4 parser reports the keyframe
    * count its sync-sample table carries), so an oracle can verify
    * decode through the seam. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Int,
      height: Int, n_frames: Int, mode: String, checksum: Long = 0L)

  /** The PLUGGABLE decode seam a production codec (JNI into
    * libjpeg/ffmpeg, or a `mapInPandas` Arrow handoff) implements. The
    * lifecycle contract [[decodeWith]] guarantees:
    *  - one decoder instance per PARTITION, `open()` before the first
    *    row — codec-context setup amortizes across the partition, never
    *    per row;
    *  - rows stream through `decode` iterator-lazily — a partition is
    *    never materialized, so arbitrarily large media partitions hold
    *    one row's bytes at a time;
    *  - `close()` runs when the partition is exhausted OR the task
    *    fails, via a task-completion hook — codec contexts never leak.
    * Implementations must be serializable (constructed on the driver,
    * opened on executors). */
  trait MediaDecoder extends Serializable {
    def open(): Unit = ()
    def decode(m: MediaRow): MediaFeatures
    def close(): Unit = ()
  }

  /** Video container decoder behind q50: REAL MP4/ISO-BMFF box-structure
    * parsing ([[Mp4.parse]]) through the seam — geometry, codec id,
    * frame count, keyframe table. Elementary-stream pixel decode would
    * plug into the same seam. */
  class Mp4Decoder extends MediaDecoder {
    def decode(m: MediaRow): MediaFeatures = {
      val meta = Mp4.parse(m.media)
      MediaFeatures(m.doc_id, m.media.length.toLong, meta.width, meta.height,
        meta.nFrames, meta.codec, checksum = meta.keyframes.toLong)
    }
  }

  /** Run a decoder over a media dataset under the [[MediaDecoder]]
    * lifecycle contract (the q50 plumbing, decoder-agnostic). */
  def decodeWith(media: org.apache.spark.sql.Dataset[MediaRow],
      mk: () => MediaDecoder): org.apache.spark.sql.Dataset[MediaFeatures] = {
    implicit val enc: org.apache.spark.sql.Encoder[MediaFeatures] =
      org.apache.spark.sql.Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      val dec = mk()
      dec.open()
      // close on BOTH clean exhaustion and task failure/cancellation
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => dec.close()))
      it.map(dec.decode)
    }
  }

  /** MP4 / ISO-BMFF (ISO/IEC 14496-12, public spec) container metadata:
    * builder + parser. The parser walks the box tree (ftyp/moov/trak/
    * mdia/minf/stbl), validates every size against the buffer, and
    * extracts exactly what a large-scale video-curation pass filters
    * on: codec fourcc, track geometry, frame count, keyframe sample
    * table, duration. Truncated or hostile structure refuses loudly —
    * never a garbage row. The builder plants closed-form boxes at
    * fixture time so the gates' oracles can state every field. */
  object Mp4 {
    /** What the box walk yields for one video. */
    case class Mp4Meta(codec: String, width: Int, height: Int,
        nFrames: Int, keyframes: Int, durationMs: Long, timescale: Int,
        firstChunkOffset: Long)

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"MP4: $msg")

    // ---- builder (fixture-time planted truth) ------------------------------
    private def be32(v: Int): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def be16(v: Int): Array[Byte] =
      Array(((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def fourcc(s: String): Array[Byte] = {
      require(s.length == 4, s"fourcc '$s'"); s.getBytes("US-ASCII")
    }
    private def boxOf(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(8 + body.length) ++ fourcc(typ) ++ body
    }
    private def fullBox(typ: String, version: Int, flags: Int,
        payload: Array[Byte]*): Array[Byte] =
      boxOf(typ, Array(((version & 0xff)).toByte) ++
        Array(((flags >>> 16) & 0xff).toByte, ((flags >>> 8) & 0xff).toByte,
          (flags & 0xff).toByte) ++ payload.flatten)
    private val unityMatrix: Array[Byte] =
      (Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)).flatMap(be32(_)).toArray

    /** A minimal, VALID MP4 with one video track: deterministic sample
      * sizes/bytes, keyframes every `keyframeEvery` frames (sample 1 is
      * always sync), `frameDelta` ticks per frame at `timescale`.
      * `audioTrack` prepends a skippable 'soun' track — the common
      * real-container layout the parser's track selection must walk. */
    def build(w: Int, h: Int, nFrames: Int, codec: String,
        keyframeEvery: Int = 3, frameDelta: Int = 40,
        timescale: Int = 1000, seed: Long = 0L,
        audioTrack: Boolean = false): Array[Byte] = {
      require(w > 0 && h > 0 && nFrames > 0 && keyframeEvery > 0)
      val sizes = (0 until nFrames).map(i => 100 + ((seed + i) % 50).toInt)
      val duration = nFrames * frameDelta
      val sync = (1 to nFrames).filter(s => (s - 1) % keyframeEvery == 0)
      def moov(chunkOffset: Int): Array[Byte] = {
        val mvhd = fullBox("mvhd", 0, 0,
          be32(0), be32(0), be32(timescale), be32(duration),
          be32(0x10000) /* rate 1.0 */, be16(0x0100) /* volume */, be16(0),
          be32(0), be32(0), unityMatrix,
          Array.fill(24)(0.toByte) /* pre_defined */, be32(2) /* next track */)
        val tkhd = fullBox("tkhd", 0, 7 /* enabled|in_movie|in_preview */,
          be32(0), be32(0), be32(1) /* track id */, be32(0), be32(duration),
          be32(0), be32(0), be16(0), be16(0), be16(0), be16(0), unityMatrix,
          be32(w << 16), be32(h << 16))
        val mdhd = fullBox("mdhd", 0, 0,
          be32(0), be32(0), be32(timescale), be32(duration),
          be16(0x55c4) /* 'und' */, be16(0))
        val hdlr = fullBox("hdlr", 0, 0,
          be32(0), fourcc("vide"), be32(0), be32(0), be32(0),
          "VideoHandler".getBytes("US-ASCII") :+ 0.toByte)
        val sampleEntry = { // VisualSampleEntry, codec config boxes omitted
          val body = Array.fill(6)(0.toByte) ++ be16(1) /* data_ref_idx */ ++
            be16(0) ++ be16(0) ++ Array.fill(12)(0.toByte) ++
            be16(w) ++ be16(h) ++ be32(0x480000) ++ be32(0x480000) ++
            be32(0) ++ be16(1) ++ Array.fill(32)(0.toByte) ++
            be16(24) ++ be16(0xffff)
          be32(8 + body.length) ++ fourcc(codec) ++ body
        }
        val stsd = fullBox("stsd", 0, 0, be32(1), sampleEntry)
        val stts = fullBox("stts", 0, 0, be32(1), be32(nFrames), be32(frameDelta))
        // all-sync tracks OMIT stss, per the spec's default — exercises
        // the parser's absent-table path
        val stss =
          if (keyframeEvery == 1) Array.empty[Byte]
          else fullBox("stss", 0, 0, be32(sync.length), sync.flatMap(be32(_)).toArray)
        val stsc = fullBox("stsc", 0, 0, be32(1), be32(1), be32(nFrames), be32(1))
        val stsz = fullBox("stsz", 0, 0, be32(0) /* per-sample */,
          be32(nFrames), sizes.flatMap(be32(_)).toArray)
        val stco = fullBox("stco", 0, 0, be32(1), be32(chunkOffset))
        val stbl = boxOf("stbl", stsd, stts, stss, stsc, stsz, stco)
        val vmhd = fullBox("vmhd", 0, 1, be16(0), be16(0), be16(0), be16(0))
        val dref = fullBox("dref", 0, 0, be32(1),
          fullBox("url ", 0, 1 /* self-contained */))
        val minf = boxOf("minf", vmhd, boxOf("dinf", dref), stbl)
        val mdia = boxOf("mdia", mdhd, hdlr, minf)
        val trak = boxOf("trak", tkhd, mdia)
        // optional leading audio track: structurally valid down to its
        // 'soun' handler (all the parser reads before skipping it)
        val audio =
          if (!audioTrack) Array.empty[Byte]
          else {
            val aTkhd = fullBox("tkhd", 0, 7,
              be32(0), be32(0), be32(2), be32(0), be32(duration),
              be32(0), be32(0), be16(0), be16(0), be16(0x0100), be16(0),
              unityMatrix, be32(0), be32(0))
            val aHdlr = fullBox("hdlr", 0, 0,
              be32(0), fourcc("soun"), be32(0), be32(0), be32(0),
              "SoundHandler".getBytes("US-ASCII") :+ 0.toByte)
            boxOf("trak", aTkhd, boxOf("mdia", mdhd, aHdlr))
          }
        boxOf("moov", mvhd, audio, trak)
      }
      val ftyp = boxOf("ftyp", fourcc("isom"), be32(0x200),
        fourcc("isom"), fourcc(codec))
      // stco stores an absolute file offset of the first sample, which
      // depends on moov's own size — build moov once with 0 to learn the
      // size (the stco entry is fixed-width, so the size is stable),
      // then rebuild with the real offset
      val moovLen = moov(0).length
      val chunkOffset = ftyp.length + moovLen + 8 // + mdat header
      val payload = new Array[Byte](sizes.sum)
      var i = 0
      while (i < payload.length) { // deterministic fake elementary stream
        payload(i) = ((seed + i * 31) % 256).toByte; i += 1
      }
      ftyp ++ moov(chunkOffset) ++ boxOf("mdat", payload)
    }

    // ---- parser (untrusted input: every offset bounds-checked) -------------
    private def u32(b: Array[Byte], off: Int): Long = {
      if (off < 0 || off + 4 > b.length) fail(s"read past end at $off")
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    }
    private def u64(b: Array[Byte], off: Int): Long = {
      val hi = u32(b, off); val lo = u32(b, off + 4)
      if (hi > Int.MaxValue) fail("64-bit size beyond sane bounds")
      (hi << 32) | lo
    }
    private def typ4(b: Array[Byte], off: Int): String = {
      if (off + 4 > b.length) fail(s"read past end at $off")
      new String(b, off, 4, "US-ASCII")
    }

    /** Children of byte range [from, to): (type, payloadStart, payloadEnd).
      * Box sizes are validated against the RANGE — a child may never leak
      * past its parent (the classic hostile-container trick). */
    private def children(b: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = from
      while (off < to) {
        if (to - off < 8) fail(s"trailing ${to - off} bytes are not a box")
        val size32 = u32(b, off)
        val t = typ4(b, off + 4)
        val (hdr, size) =
          if (size32 == 1) (16L, u64(b, off + 8))
          else if (size32 == 0) (8L, (to - off).toLong) // "extends to end"
          else (8L, size32)
        if (size < hdr) fail(s"box '$t' size $size smaller than its header")
        if (off + size > to) fail(s"box '$t' (size $size at $off) leaks past its parent")
        out += ((t, off + hdr.toInt, off + size.toInt))
        off += size.toInt
      }
      out.result()
    }
    private def child(cs: Seq[(String, Int, Int)], t: String): (Int, Int) =
      cs.find(_._1 == t).map(c => (c._2, c._3)).getOrElse(fail(s"missing '$t' box"))

    /** Parse one video's container metadata. Refuses loudly on anything
      * structurally wrong; never fabricates a value. */
    def parse(bytes: Array[Byte]): Mp4Meta = {
      if (bytes.length < 16) fail(s"${bytes.length} bytes cannot hold a container")
      val top = children(bytes, 0, bytes.length)
      if (top.head._1 != "ftyp") fail(s"first box is '${top.head._1}', not ftyp")
      val (moovS, moovE) = child(top, "moov")
      val moov = children(bytes, moovS, moovE)
      // mvhd v0/v1: timescale+duration move with the version
      val (mvS, mvE) = child(moov, "mvhd")
      val mvVersion = bytes(mvS) & 0xff
      val (timescale, duration) = mvVersion match {
        case 0 => (u32(bytes, mvS + 12).toInt, u32(bytes, mvS + 16))
        case 1 => (u32(bytes, mvS + 20).toInt, u64(bytes, mvS + 24))
        case v => fail(s"mvhd version $v")
      }
      if (mvE < mvS + 20 || timescale <= 0) fail("mvhd too small or zero timescale")
      // real containers carry several tracks (audio first is common):
      // select the FIRST video track by handler, skip the rest, refuse
      // only when no track is video
      val traks = moov.filter(_._1 == "trak").map { case (_, s0, e0) =>
        val trak = children(bytes, s0, e0)
        val mdia = children(bytes, child(trak, "mdia")._1, child(trak, "mdia")._2)
        val handler = typ4(bytes, child(mdia, "hdlr")._1 + 8)
        (trak, mdia, handler)
      }
      if (traks.isEmpty) fail("missing 'trak' box")
      val (trak, mdia, _) = traks.find(_._3 == "vide").getOrElse(
        fail(s"no video track (handlers: ${traks.map(_._3).mkString(",")})"))
      val (tkS, tkE) = child(trak, "tkhd")
      if (bytes(tkS) != 0) fail(s"tkhd version ${bytes(tkS)}")
      if (tkE - tkS < 84) fail("tkhd truncated")
      val width = (u32(bytes, tkS + 76) >> 16).toInt // 16.16 fixed
      val height = (u32(bytes, tkS + 80) >> 16).toInt
      if (width <= 0 || height <= 0 || width > 0xffff || height > 0xffff)
        fail(s"track geometry $width x $height out of range")
      val minf = children(bytes, child(mdia, "minf")._1, child(mdia, "minf")._2)
      val stbl = children(bytes, child(minf, "stbl")._1, child(minf, "stbl")._2)
      val (sdS, sdE) = child(stbl, "stsd")
      if (u32(bytes, sdS + 4) < 1) fail("stsd holds no sample entries")
      if (sdE - sdS < 16) fail("stsd truncated")
      val codec = typ4(bytes, sdS + 12) // first entry's fourcc
      val (szS, szE) = child(stbl, "stsz")
      val fixedSize = u32(bytes, szS + 4)
      val nFrames = u32(bytes, szS + 8)
      if (nFrames <= 0 || nFrames > (1 << 24)) fail(s"sample count $nFrames")
      if (fixedSize == 0 && szE - szS < 12 + 4 * nFrames)
        fail("stsz sample-size table truncated")
      val (ttS, ttE) = child(stbl, "stts")
      val ttEntries = u32(bytes, ttS + 4)
      if (ttE - ttS < 8 + 8 * ttEntries) fail("stts truncated")
      val ttTotal = (0L until ttEntries).map(i => u32(bytes, ttS + 8 + 8 * i.toInt)).sum
      if (ttTotal != nFrames)
        fail(s"stts covers $ttTotal samples, stsz declares $nFrames")
      // stss absent = every sample is a sync sample (the spec's default)
      val keyframes = stbl.find(_._1 == "stss") match {
        case None => nFrames.toInt
        case Some((_, s, e)) =>
          val n = u32(bytes, s + 4)
          if (e - s < 8 + 4 * n) fail("stss truncated")
          var prev = 0L
          (0 until n.toInt).foreach { i =>
            val sample = u32(bytes, s + 8 + 4 * i)
            if (sample <= prev || sample > nFrames)
              fail(s"stss sample $sample out of order or beyond $nFrames")
            prev = sample
          }
          n.toInt
      }
      val (coS, coE) = child(stbl, "stco")
      val nChunks = u32(bytes, coS + 4)
      if (nChunks < 1 || coE - coS < 8 + 4 * nChunks) fail("stco truncated or empty")
      val firstChunkOffset = u32(bytes, coS + 8)
      if (firstChunkOffset >= bytes.length)
        fail(s"first chunk offset $firstChunkOffset beyond file end")
      Mp4Meta(codec, width, height, nFrames.toInt, keyframes,
        durationMs = duration * 1000L / timescale, timescale = timescale,
        firstChunkOffset = firstChunkOffset)
    }
  }

  // ---- q50: binary media column -> per-partition decode -> features -------
  // REAL MP4/ISO-BMFF container parsing through the seam: fixture-time
  // planted boxes carry closed-form geometry/frame/keyframe values the
  // oracle restates; a parser that miswalks the tree, misreads 16.16
  // geometry, or miscounts the sync-sample table goes hash-red.
  private val q50: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, Mp4.build(
        w = (id % 64).toInt + 16, h = (id % 48).toInt + 16,
        nFrames = (id % 8).toInt + 1,
        codec = if (id % 2 == 0) "avc1" else "hev1", seed = id)))
    // n_bytes is the container's encoded size (not closed-form) —
    // projected away, like q140's QOI size
    decodeWith(media, () => new Mp4Decoder)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("mode"), col("checksum"))
      .orderBy(col("doc_id"))
  }
  private val q50Sql =
    """SELECT doc_id,
      |  CAST(doc_id % 64 + 16 AS INT) AS width,
      |  CAST(doc_id % 48 + 16 AS INT) AS height,
      |  CAST(doc_id % 8 + 1 AS INT) AS n_frames,
      |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS mode,
      |  CAST(floor((doc_id % 8) / 3) + 1 AS BIGINT) AS checksum
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q51: media metadata aggregation (mixed binary + struct columns) ----
  private val q51: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("media", encode(col("text"), "UTF-8"))
      .withColumn("meta", struct(
        octet_length(col("media")).as("n_bytes"),
        col("source").as("origin"),
        lit("image/fake").as("mime")))
      .groupBy(col("meta.origin").as("origin"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("meta.n_bytes").cast("long")).as("total_bytes"),
        max(col("meta.n_bytes")).as("max_bytes"))
      .orderBy(col("origin"))
  }
  private val q51Sql =
    """SELECT source AS origin, count(*) AS n_media,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
      |FROM documents
      |GROUP BY source
      |ORDER BY origin""".stripMargin

  // ---- q52: frame sampling (video-style explode + per-frame features) -----
  // A video pipeline shape: one row per sampled frame via explode, then a
  // per-frame feature (here a hash — a stand-in for a real frame
  // embedding), re-aggregated per media item. The frame-count formula
  // mirrors q50's planted MP4 fixtures.
  private val q52: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("nb", octet_length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("n_frames", (col("nb") % 8 + 1).cast("int"))
      .withColumn("mode", when(col("nb") % 2 === 0, "rgb").otherwise("gray"))
      .select(col("doc_id"), col("mode"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .withColumn("frame_sig",
        md5(encode(concat(col("doc_id").cast("string"), lit("-"),
          col("frame_idx").cast("string")), "UTF-8")))
      .groupBy(col("mode"))
      .agg(
        count(lit(1)).as("n_frames_total"),
        countDistinct(col("doc_id")).as("n_media"),
        countDistinct(col("frame_sig")).as("n_distinct_sigs"))
      .orderBy(col("mode"))
  }
  private val q52Sql =
    """WITH m AS (
      |  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN nb % 2 = 0 THEN 'rgb' ELSE 'gray' END AS mode,
      |    unnest(generate_series(0, CAST(nb % 8 AS INT))) AS frame_idx
      |  FROM m)
      |SELECT mode, count(*) AS n_frames_total,
      |  count(DISTINCT doc_id) AS n_media,
      |  count(DISTINCT md5(CAST(doc_id AS VARCHAR) || '-' || CAST(frame_idx AS VARCHAR))) AS n_distinct_sigs
      |FROM f
      |GROUP BY mode
      |ORDER BY mode""".stripMargin

  // ---- q53: resize planning (aspect-preserving thumbnail dims) -------------
  // The resize step of an image pipeline: target box 32x32, preserve
  // aspect ratio, never upscale. Pure arithmetic on header-derived
  // dimensions — the real pixel work would slot into the same
  // mapPartitions stage as q50's decoder.
  private val q53: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("nb", octet_length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("w", (col("nb") % 64 + 1).cast("int"))
      .withColumn("h", (col("nb") % 48 + 1).cast("int"))
      .withColumn("scale", least(lit(1.0), lit(32.0) / greatest(col("w"), col("h"))))
      .withColumn("out_w", greatest(lit(1), floor(col("w") * col("scale")).cast("int")))
      .withColumn("out_h", greatest(lit(1), floor(col("h") * col("scale")).cast("int")))
      .groupBy(col("out_w"), col("out_h"))
      .agg(count(lit(1)).as("n_images"))
      .orderBy(col("out_w"), col("out_h"))
  }
  private val q53Sql =
    """WITH m AS (
      |  SELECT CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS w,
      |         CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS h
      |  FROM documents),
      |r AS (
      |  SELECT w, h, least(1.0, 32.0 / greatest(w, h)) AS scale FROM m)
      |SELECT greatest(1, CAST(floor(w * scale) AS INT)) AS out_w,
      |       greatest(1, CAST(floor(h * scale) AS INT)) AS out_h,
      |       count(*) AS n_images
      |FROM r
      |GROUP BY 1, 2
      |ORDER BY out_w, out_h""".stripMargin

  // ==== REAL decoders =======================================================
  // The container ships no image/audio codec libraries, but two media
  // containers need none: BMP (24-bit uncompressed) and WAV (RIFF/PCM16)
  // are pure byte layouts. The gates below GENERATE genuine files whose
  // pixels/samples follow a closed-form formula of (doc_id, position),
  // push the real bytes through a byte-level parser (headers validated,
  // row padding honored, RIFF chunks walked), and the DuckDB oracle
  // RECOMPUTES the expected features from the formula — a decoder that
  // misreads any offset, stride or sign hash-mismatches immediately.
  // Exact integer features (pixel/abs-sample sums), no float rounding.

  /** One real 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up
    * pixel array with 4-byte row padding. Channel value at (x, y):
    * `(7x + 13y + docId) % 256` in all three channels. */
  def bmpBytes(docId: Long, w: Int, h: Int): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val out = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(54 + dataSize) // file size
    out.putInt(0)             // reserved
    out.putInt(54)            // pixel-array offset
    out.putInt(40)            // BITMAPINFOHEADER size
    out.putInt(w).putInt(h)
    out.putShort(1)           // planes
    out.putShort(24)          // bpp
    out.putInt(0)             // BI_RGB (uncompressed)
    out.putInt(dataSize)
    out.putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // bottom-up storage, like the real format
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val v = ((7 * x + 13 * y + docId) % 256).toByte
        out.put(v).put(v).put(v)
        x += 1
      }
      var pad = rowSize - 3 * w
      while (pad > 0) { out.put(0.toByte); pad -= 1 }
      y -= 1
    }
    out.array()
  }

  case class BmpFeatures(doc_id: Long, width: Int, height: Int, bpp: Int,
      channel_sum: Long)

  /** REAL BMP parse: validates the magic, follows the header's own pixel
    * offset, honors the 4-byte row stride. Throws on malformed input —
    * a decoder, not a length heuristic. */
  def decodeBmp(docId: Long, bytes: Array[Byte]): BmpFeatures = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 54 && bb.get(0) == 'B' && bb.get(1) == 'M', "not a BMP")
    val pixelOff = bb.getInt(10)
    val w = bb.getInt(18)
    val rawH = bb.getInt(22)
    // negative biHeight is a LEGAL top-down BMP (rows stored first-to-
    // last); the channel sum is orientation-invariant so both store
    // orders decode identically. Guard Int.MinValue (|h| overflows) and
    // non-positive width loudly instead of a vacuous bounds check — a
    // negative rowSize*h product used to sail through `require(... <=
    // length)` and return a silent channel_sum=0.
    require(rawH != 0 && rawH != Int.MinValue && w > 0,
      s"malformed BMP dimensions ${w}x$rawH")
    val h = math.abs(rawH)
    val bpp = bb.getShort(28).toInt
    require(bpp == 24 && bb.getInt(30) == 0, s"unsupported BMP variant bpp=$bpp")
    val rowSize = ((3L * w + 3) / 4) * 4 // long math: 4-byte stride, no int wrap
    require(pixelOff >= 54 && pixelOff + rowSize * h <= bytes.length,
      "truncated pixel array")
    var sum = 0L
    var y = 0
    while (y < h) {
      val base = pixelOff + y * rowSize.toInt
      var i = 0
      while (i < 3 * w) { sum += bytes(base + i) & 0xff; i += 1 }
      y += 1
    }
    BmpFeatures(docId, w, rawH, bpp, sum)
  }

  // ---- q126: REAL BMP encode -> decode -> exact pixel-sum oracle -----------
  private val q126: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map { id =>
        MediaRow(id, bmpBytes(id, (id % 13).toInt + 4, (id % 9).toInt + 4))
      }
    media.mapPartitions(_.map(m => decodeBmp(m.doc_id, m.media)))
      .toDF()
      .orderBy(col("doc_id"))
  }
  private val q126Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 13 + 4 AS INT) AS w,
      |         CAST(doc_id % 9 + 4 AS INT) AS h
      |  FROM documents),
      |p1 AS (SELECT doc_id, w, h,
      |         unnest(generate_series(0, w - 1)) AS x FROM d),
      |p2 AS (SELECT doc_id, w, h, x,
      |         unnest(generate_series(0, h - 1)) AS y FROM p1)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  24 AS bpp,
      |  CAST(3 * sum((7 * x + 13 * y + doc_id) % 256) AS BIGINT) AS channel_sum
      |FROM p2
      |GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin

  /** One real PCM16 mono WAV: RIFF header, `fmt ` chunk, `data` chunk.
    * Sample i: `((31*docId + 17*i) % 65536) - 32768`. */
  def wavBytes(docId: Long, nSamples: Int, sampleRate: Int = 16000): Array[Byte] = {
    val dataSize = nSamples * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16)
    out.putShort(1)          // PCM
    out.putShort(1)          // mono
    out.putInt(sampleRate)
    out.putInt(sampleRate * 2) // byte rate
    out.putShort(2)          // block align
    out.putShort(16)         // bits per sample
    out.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < nSamples) {
      out.putShort((((31 * docId + 17 * i) % 65536) - 32768).toShort)
      i += 1
    }
    out.array()
  }

  case class WavFeatures(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Long, abs_sum: Long)

  /** REAL RIFF/WAV parse: walks chunks to find `fmt ` and `data` (order
    * not assumed), validates PCM16, decodes little-endian samples. */
  def decodeWav(docId: Long, bytes: Array[Byte]): WavFeatures = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE", "not a WAV")
    var off = 12
    var rate = -1; var channels = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
      val id = tag(off)
      val len = bb.getInt(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length, s"truncated chunk $id")
      id match {
        case "fmt " =>
          // PCM fmt is 16 bytes; the fields below read up to off+23 and
          // a lying shorter length could read past the chunk/file
          require(len >= 16, s"fmt chunk length $len < 16")
          require(bb.getShort(off + 8) == 1, "not PCM")
          channels = bb.getShort(off + 10).toInt
          rate = bb.getInt(off + 12)
          bits = bb.getShort(off + 22).toInt
        case "data" => dataOff = off + 8; dataLen = len
        case _ => // skip unknown chunks, like a real reader
      }
      off += 8 + len + (len & 1) // RIFF chunks are 2-byte aligned
    }
    require(rate > 0 && dataOff >= 0 && bits == 16, "missing fmt/data or not 16-bit")
    val n = dataLen / 2
    var sum = 0L
    var i = 0
    while (i < n) { sum += math.abs(bb.getShort(dataOff + i * 2).toLong); i += 1 }
    WavFeatures(docId, rate, channels, bits, n, sum)
  }

  // ---- q127: REAL WAV encode -> decode -> exact abs-sample-sum oracle ------
  private val q127: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, wavBytes(id, (id % 50).toInt + 20)))
    media.mapPartitions(_.map(m => decodeWav(m.doc_id, m.media)))
      .toDF()
      .orderBy(col("doc_id"))
  }
  private val q127Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 50 + 20 AS INT) AS n FROM documents),
      |s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d)
      |SELECT doc_id, 16000 AS sample_rate, 1 AS channels, 16 AS bits,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(sum(abs(((31 * doc_id + 17 * i) % 65536) - 32768)) AS BIGINT) AS abs_sum
      |FROM s
      |GROUP BY doc_id, n
      |ORDER BY doc_id""".stripMargin

  /** One real PNG (RFC 2083): signature, IHDR, an ancillary tEXt chunk
    * (readers must skip unknown ancillary chunks), the zlib-deflated
    * filtered scanlines split across TWO IDAT chunks (readers must
    * concatenate), IEND — every chunk CRC32-stamped. Scanline y uses
    * filter type `y % 5`, so all five PNG filters (None/Sub/Up/Average/
    * Paeth) are genuinely applied at encode time and must be genuinely
    * inverted at decode time. Channel value at (x, y, c):
    * `(7x + 13y + 11c + docId) % 256`; even docIds are grayscale
    * (color type 0, c = 0), odd are truecolor (color type 2, c in 0..2).
    * DEFLATE comes from the JDK's own zlib (`java.util.zip`) — no
    * external codec needed — PNG joins BMP/WAV/QOI/JPEG/MP4 as a real
    * parser. */
  def pngBytes(docId: Long, w: Int, h: Int): Array[Byte] = {
    val colorType = if (docId % 2 == 0) 0 else 2
    val bpp = if (colorType == 0) 1 else 3
    val rowBytes = w * bpp
    // raw scanlines from the closed-form formula
    val raw = Array.tabulate(h, rowBytes) { (y, i) =>
      val x = i / bpp
      val c = i % bpp
      ((7 * x + 13 * y + 11 * c + docId) % 256).toByte
    }
    // filtered stream: per row, 1 filter-type byte + filtered bytes
    val filtered = new Array[Byte](h * (1 + rowBytes))
    var y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + rowBytes)) = ft.toByte
      var i = 0
      while (i < rowBytes) {
        val cur = raw(y)(i) & 0xff
        val left = if (i >= bpp) raw(y)(i - bpp) & 0xff else 0
        val up = if (y > 0) raw(y - 1)(i) & 0xff else 0
        val upLeft = if (y > 0 && i >= bpp) raw(y - 1)(i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, upLeft)
        }
        filtered(y * (1 + rowBytes) + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) comp.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val idat = comp.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)              // bit depth
      .put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
    chunk("IHDR", ihdr.array())
    chunk("tEXt", s"Comment doc $docId".getBytes("US-ASCII")) // ancillary: must be skipped
    val split = idat.length / 2 // two IDATs: readers must CONCATENATE
    chunk("IDAT", idat.slice(0, split))
    chunk("IDAT", idat.slice(split, idat.length))
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** The Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    * `left + up - upLeft`, ties broken left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  case class PngFeatures(doc_id: Long, width: Int, height: Int,
      color_type: Int, channel_sum: Long)

  /** REAL PNG decode with zero external dependencies: signature check,
    * chunk walk with CRC32 verification (corrupt files refuse loudly),
    * ancillary chunks skipped, IDAT chunks concatenated, the zlib stream
    * inflated with the JDK's own `java.util.zip.Inflater`, and all five
    * scanline filters inverted (Paeth included). Supports the shapes the
    * generator emits — 8-bit greyscale and truecolor, non-interlaced —
    * and refuses everything else loudly rather than guessing. */
  def decodePng(docId: Long, bytes: Array[Byte]): PngFeatures = {
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    require(bytes.length >= 8 && bytes.take(8).sameElements(sig), "not a PNG")
    val bb = java.nio.ByteBuffer.wrap(bytes) // PNG ints are BIG-endian
    var off = 8
    var w = -1; var h = -1; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd) {
      require(off + 8 <= bytes.length, "truncated chunk header")
      val len = bb.getInt(off)
      require(len >= 0 && off + 12 + len <= bytes.length, "truncated chunk")
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, off + 4, 4 + len)
      require(crc.getValue.toInt == bb.getInt(off + 8 + len), s"bad CRC in $typ")
      typ match {
        case "IHDR" =>
          // the 13-byte fixed layout is read field-by-field below — a
          // lying shorter length would read past the chunk into the CRC
          // or off the array end
          require(len == 13, s"IHDR length $len != 13")
          w = bb.getInt(off + 8); h = bb.getInt(off + 12)
          require(w > 0 && h > 0, s"malformed PNG dimensions ${w}x$h")
          require(bytes(off + 16) == 8, "only 8-bit depth supported")
          colorType = bytes(off + 17) & 0xff
          require(colorType == 0 || colorType == 2,
            s"unsupported color type $colorType")
          require(bytes(off + 18) == 0 && bytes(off + 19) == 0 && bytes(off + 20) == 0,
            "unsupported compression/filter/interlace")
        case "IDAT" => idat.write(bytes, off + 8, len)
        case "IEND" => sawEnd = true
        case _ => // ancillary (tEXt, pHYs, ...): skip, like a real reader
      }
      off += 12 + len
    }
    require(w > 0, "missing IHDR")
    val bpp = if (colorType == 0) 1 else 3
    // size arithmetic in LONG, with w/h bounded first: hostile IHDR
    // dimensions overflow Int (and even Long, at 2^31×2^33) into a
    // small/negative "expect" that slips past the size guard and dies in
    // the allocator instead of the documented clean refusal
    require(w <= (1 << 26) && h <= (1 << 26), "PNG too large")
    val expectL = h.toLong * (1L + w.toLong * bpp)
    require(expectL <= (1L << 26), "PNG too large") // before allocating
    val rowBytes = w * bpp
    val expect = expectL.toInt
    val filtered = new Array[Byte](expect)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var at = 0
    while (at < expect && !inflater.finished()) {
      val n = inflater.inflate(filtered, at, expect - at)
      require(n > 0 || inflater.finished(), "stalled zlib stream")
      at += n
    }
    inflater.end()
    require(at == expect, s"short pixel stream: $at of $expect")
    // unfilter in place, row by row (each row's reconstruction feeds the
    // next row's Up/Average/Paeth predictors)
    var sum = 0L
    val prev = new Array[Byte](rowBytes)
    val cur = new Array[Byte](rowBytes)
    var y = 0
    while (y < h) {
      val base = y * (1 + rowBytes)
      val ft = filtered(base) & 0xff
      require(ft <= 4, s"bad filter type $ft")
      var i = 0
      while (i < rowBytes) {
        val x = filtered(base + 1 + i) & 0xff
        val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
        val b = if (y > 0) prev(i) & 0xff else 0
        val c = if (y > 0 && i >= bpp) prev(i - bpp) & 0xff else 0
        val recon = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => x + paeth(a, b, c)
        }
        cur(i) = (recon & 0xff).toByte
        sum += recon & 0xff
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, rowBytes)
      y += 1
    }
    PngFeatures(docId, w, h, colorType, sum)
  }

  // ---- q128: REAL PNG encode -> decode -> exact channel-sum oracle ---------
  private val q128: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, pngBytes(id, (id % 11).toInt + 4, (id % 7).toInt + 4)))
    media.mapPartitions(_.map(m => decodePng(m.doc_id, m.media)))
      .toDF()
      .orderBy(col("doc_id"))
  }
  private val q128Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 11 + 4 AS INT) AS w,
      |         CAST(doc_id % 7 + 4 AS INT) AS h,
      |         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS ct
      |  FROM documents),
      |p1 AS (SELECT doc_id, w, h, ct,
      |         unnest(generate_series(0, w - 1)) AS x FROM d),
      |p2 AS (SELECT doc_id, w, h, ct, x,
      |         unnest(generate_series(0, h - 1)) AS y FROM p1),
      |p3 AS (SELECT doc_id, w, h, ct, x, y,
      |         unnest(generate_series(0, CASE WHEN ct = 0 THEN 0 ELSE 2 END)) AS ch
      |       FROM p2)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(ct AS INT) AS color_type,
      |  CAST(sum((7 * x + 13 * y + 11 * ch + doc_id) % 256) AS BIGINT) AS channel_sum
      |FROM p3
      |GROUP BY doc_id, w, h, ct
      |ORDER BY doc_id""".stripMargin

  // ---- q140: REAL QOI codec through the MediaDecoder SEAM ------------------
  // QOI (the "Quite OK Image" format, qoiformat.org — a public one-page
  // spec) is lossless with zero external dependencies, so unlike JPEG it
  // meets the repo's oracle-verified bar for a real decoder. Unlike the
  // BMP/WAV/PNG decoders (standalone functions), this one ships AS a
  // [[MediaDecoder]]: the gate runs it through the identical
  // [[decodeWith]] plumbing q50 uses, proving the trait boundary carries
  // a non-stub codec end-to-end — lifecycle, schema, and a
  // pixel-content checksum the oracle recomputes in closed form.

  /** Closed-form pixel: constant rows every 5th scanline (exercises
    * QOI_OP_RUN and, on re-encounter, QOI_OP_INDEX), gentle gradients
    * elsewhere (per-step deltas r+3/g+2/b+1 — QOI_OP_LUMA range), row
    * seams landing in QOI_OP_RGB. Odd docIds add a constant non-255
    * alpha channel, forcing exactly one QOI_OP_RGBA at the first pixel. */
  private def qoiPixel(docId: Long, x: Int, y: Int): (Int, Int, Int) =
    if (y % 5 == 0) (((docId % 256).toInt), 128, 7)
    else ((3 * x + 5 * y + docId % 256).toInt % 256,
      (2 * x + 7 * y) % 256, (x + 2 * y) % 256)

  /** A real QOI encoder (all six ops, 64-slot color index, wrapping
    * byte diffs, 62-cap runs, 8-byte end marker). */
  def qoiBytes(docId: Long, w: Int, h: Int): Array[Byte] = {
    val channels = if (docId % 2 == 0) 3 else 4
    val alpha = if (channels == 3) 255 else 200
    val out = new java.io.ByteArrayOutputStream()
    out.write("qoif".getBytes("US-ASCII"))
    out.write(java.nio.ByteBuffer.allocate(8).putInt(w).putInt(h).array())
    out.write(channels); out.write(0) // sRGB with linear alpha
    val index = Array.fill(64)((0, 0, 0, 0))
    var (pr, pg, pb, pa) = (0, 0, 0, 255)
    var run = 0
    def d8(a: Int, b: Int): Int = ((a - b + 128) & 0xff) - 128 // wrapping
    def flushRun(): Unit = if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = qoiPixel(docId, x, y)
        val a = alpha
        if (r == pr && g == pg && b == pb && a == pa) {
          run += 1
          if (run == 62) flushRun()
        } else {
          flushRun()
          val pos = (r * 3 + g * 5 + b * 7 + a * 11) % 64
          if (index(pos) == ((r, g, b, a))) out.write(pos) // QOI_OP_INDEX
          else {
            index(pos) = (r, g, b, a)
            if (a == pa) {
              val (dr, dg, db) = (d8(r, pr), d8(g, pg), d8(b, pb))
              if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
                out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
              else if (dg >= -32 && dg <= 31 &&
                  dr - dg >= -8 && dr - dg <= 7 && db - dg >= -8 && db - dg <= 7) {
                out.write(0x80 | (dg + 32))
                out.write(((dr - dg + 8) << 4) | (db - dg + 8))
              } else {
                out.write(0xfe); out.write(r); out.write(g); out.write(b)
              }
            } else {
              out.write(0xff); out.write(r); out.write(g); out.write(b); out.write(a)
            }
          }
          pr = r; pg = g; pb = b; pa = a
        }
        x += 1
      }
      y += 1
    }
    flushRun()
    out.write(Array[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    out.toByteArray
  }

  /** A real, general QOI decoder behind the [[MediaDecoder]] seam: walks
    * every op per the spec (run/index/diff/luma/rgb/rgba), maintains the
    * 64-slot color index, validates magic, dimensions, channel count,
    * pixel-count completion, and the end marker — corrupt input refuses
    * loudly. Features carry the decoded geometry plus the RGB channel
    * sum as the oracle-checkable content proof (alpha excluded: the
    * closed-form oracle states RGB). */
  class QoiDecoder extends MediaDecoder {
    def decode(m: MediaRow): MediaFeatures = {
      val b = m.media
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"QOI doc ${m.doc_id}: $msg")
      if (b.length < 14 + 8 || !(b(0) == 'q' && b(1) == 'o' && b(2) == 'i' && b(3) == 'f'))
        fail("bad magic")
      val bb = java.nio.ByteBuffer.wrap(b, 4, 8)
      val w = bb.getInt; val h = bb.getInt
      if (w <= 0 || h <= 0 || w.toLong * h > (1L << 31)) fail(s"bad dims ${w}x$h")
      val channels = b(12) & 0xff
      if (channels != 3 && channels != 4) fail(s"bad channels $channels")
      val nPix = w.toLong * h
      val index = new Array[Int](64) // packed rgba
      var (r, g, bl, a) = (0, 0, 0, 255)
      var sum = 0L
      var seen = 0L
      var i = 14
      val dataEnd = b.length - 8
      while (seen < nPix) {
        if (i >= dataEnd) fail("truncated stream")
        val op = b(i) & 0xff; i += 1
        // multi-byte ops must bounds-check their OPERANDS against the
        // data region too — a truncated stream otherwise reads the end
        // marker (or throws ArrayIndexOutOfBounds) instead of refusing
        if (op == 0xfe) { // RGB
          if (i + 3 > dataEnd) fail("truncated stream")
          r = b(i) & 0xff; g = b(i + 1) & 0xff; bl = b(i + 2) & 0xff; i += 3
        } else if (op == 0xff) { // RGBA
          if (i + 4 > dataEnd) fail("truncated stream")
          r = b(i) & 0xff; g = b(i + 1) & 0xff; bl = b(i + 2) & 0xff
          a = b(i + 3) & 0xff; i += 4
        } else (op >> 6) match {
          case 0 => // INDEX
            val v = index(op & 0x3f)
            r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff
            bl = (v >>> 8) & 0xff; a = v & 0xff
          case 1 => // DIFF
            r = (r + ((op >> 4) & 3) - 2) & 0xff
            g = (g + ((op >> 2) & 3) - 2) & 0xff
            bl = (bl + (op & 3) - 2) & 0xff
          case 2 => // LUMA
            if (i + 1 > dataEnd) fail("truncated stream")
            val dg = (op & 0x3f) - 32
            val b2 = b(i) & 0xff; i += 1
            r = (r + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
            g = (g + dg) & 0xff
            bl = (bl + dg + (b2 & 0xf) - 8) & 0xff
          case _ => // RUN (op tags 0xfe/0xff handled above)
            val run = (op & 0x3f) + 1
            sum += (r + g + bl).toLong * (run - 1) // current pixel added below
            seen += run - 1
        }
        index((r * 3 + g * 5 + bl * 7 + a * 11) % 64) =
          (r << 24) | (g << 16) | (bl << 8) | a
        sum += r + g + bl
        seen += 1
      }
      if (seen != nPix) fail(s"pixel overrun: $seen of $nPix")
      var e = i
      while (e < b.length - 1) {
        if (b(e) != 0) fail("bad end marker"); e += 1
      }
      if (b.length - i != 8 || b(b.length - 1) != 1) fail("bad end marker")
      MediaFeatures(m.doc_id, b.length.toLong, w, h, 1,
        if (channels == 3) "rgb" else "rgba", checksum = sum)
    }
  }

  private val q140: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, qoiBytes(id, (id % 13).toInt + 4, (id % 9).toInt + 4)))
    // THROUGH THE SEAM: same plumbing as q50, real codec plugged in.
    // n_bytes is the encoded size (not closed-form) — projected away.
    decodeWith(media, () => new QoiDecoder)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("mode"), col("checksum"))
      .orderBy(col("doc_id"))
  }
  private val q140Sql =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 13 + 4 AS INT) AS w,
      |         CAST(doc_id % 9 + 4 AS INT) AS h
      |  FROM documents),
      |p1 AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      |p2 AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM p1)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(1 AS INT) AS n_frames,
      |  CASE WHEN doc_id % 2 = 0 THEN 'rgb' ELSE 'rgba' END AS mode,
      |  CAST(sum(CASE WHEN y % 5 = 0 THEN (doc_id % 256) + 128 + 7
      |    ELSE (3 * x + 5 * y + doc_id % 256) % 256
      |       + (2 * x + 7 * y) % 256 + (x + 2 * y) % 256 END) AS BIGINT) AS checksum
      |FROM p2
      |GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin

  // ---- q144: REAL JPEG through the MediaDecoder seam (javax.imageio) -------
  // Baseline JPEG via the JDK's built-in codec — zero external deps,
  // public API. Lossy output is deterministic for a fixed JDK decoder
  // but not closed-form, so the oracle story is PLANTED TRUTH: fixture
  // generation encodes a closed-form image, immediately decodes it with
  // the same JDK codec, and stores that RGB checksum as `expected`; the
  // gate re-decodes every image THROUGH the seam (the identical
  // [[decodeWith]] plumbing q50/q140 use) and emits `matched =
  // (checksum == expected)` next to the geometry the JPEG header
  // carries. The oracle states the closed-form geometry and matched =
  // true for every image — a decoder that misreads dimensions, drops
  // pixels, or decodes unstably goes hash-red.
  case class JpegFixture(doc_id: Long, media: Array[Byte], expected: Long)

  /** Deterministic content: smooth gradients JPEG survives recognizably;
    * the checksum is over the DECODED pixels, so block artifacts are
    * fine — stability, not fidelity, is what the gate pins. */
  def jpegBytes(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (docId % 256 + 2 * x).toInt % 256
        val g = (3 * y + 64) % 256
        val b = (x + y + (docId % 128)).toInt % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, "jpg", bos))
      throw new IllegalStateException("JDK JPEG writer unavailable")
    bos.toByteArray
  }

  def rgbChecksum(img: java.awt.image.BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sum += ((p >>> 16) & 0xff) + ((p >>> 8) & 0xff) + (p & 0xff)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Real JPEG decode behind the [[MediaDecoder]] seam via the JDK's
    * `javax.imageio` (public API, ships with every JRE). Undecodable
    * bytes refuse loudly — ImageIO returns null rather than throwing. */
  class JpegDecoder extends MediaDecoder {
    def decode(m: MediaRow): MediaFeatures = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.media))
      if (img == null)
        throw new IllegalArgumentException(s"JPEG doc ${m.doc_id}: undecodable bytes")
      MediaFeatures(m.doc_id, m.media.length.toLong, img.getWidth, img.getHeight,
        1, "rgb", checksum = rgbChecksum(img))
    }
  }

  private val q144: Q = (s, d) => {
    import s.implicits._
    // checkpointed: the fixture feeds two subtrees (the media side and
    // the expected-checksum side of the join) that Catalyst won't unify
    // — without it every JPEG encodes twice. The eager localCheckpoint
    // materializes the fixture here, so the FixtureClock wrap attributes
    // the JPEG ENCODE + planted-truth decode (both scale with sf) to
    // fixture; the engine side is the seam decode + join.
    val fixtures = FixtureClock.time {
      Tables.documents(s, d)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = jpegBytes(id, (id % 13).toInt + 16, (id % 9).toInt + 16)
          // planted truth: the fixture-time decode of the very bytes shipped
          val expected = rgbChecksum(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes)))
          JpegFixture(id, bytes, expected)
        }.localCheckpoint()
    }
    val media = fixtures.map(f => MediaRow(f.doc_id, f.media))
    val out = decodeWith(media, () => new JpegDecoder).toDF()
      .join(fixtures.toDF().select(col("doc_id"), col("expected")), Seq("doc_id"))
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("mode"), (col("checksum") === col("expected")).as("matched"))
      .orderBy(col("doc_id"))
    out
  }
  private val q144Sql =
    """SELECT doc_id,
      |  CAST(doc_id % 13 + 16 AS INT) AS width,
      |  CAST(doc_id % 9 + 16 AS INT) AS height,
      |  CAST(1 AS INT) AS n_frames, 'rgb' AS mode, true AS matched
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q152: MP4 metadata curation — the per-codec dataset card ------------
  // What a 100 TB video-curation pass actually computes from container
  // metadata alone (no elementary-stream decode): per-codec corpus
  // composition — video count, total frames, total keyframes, duration
  // bounds. Parsing errors refuse loudly upstream; the oracle restates
  // every number closed-form from the planted boxes.
  private val q152: Q = (s, d) => {
    import s.implicits._
    val parsed = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val m = Mp4.parse(Mp4.build(
          w = (id % 64).toInt + 16, h = (id % 48).toInt + 16,
          nFrames = (id % 8).toInt + 1,
          codec = if (id % 2 == 0) "avc1" else "hev1", seed = id))
        (id, m.codec, m.nFrames, m.keyframes, m.durationMs,
          m.width.toLong * m.height)
      }
      .toDF("doc_id", "codec", "n_frames", "keyframes", "duration_ms", "pixels")
    parsed.groupBy(col("codec")).agg(
      count(lit(1)).as("n_videos"),
      sum(col("n_frames").cast("long")).as("total_frames"),
      sum(col("keyframes").cast("long")).as("total_keyframes"),
      min(col("duration_ms")).as("mn_dur_ms"),
      max(col("duration_ms")).as("mx_dur_ms"),
      max(col("pixels")).as("mx_pixels"))
      .orderBy(col("codec"))
  }
  private val q152Sql =
    """WITH v AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS codec,
      |    CAST(doc_id % 8 + 1 AS BIGINT) AS n,
      |    CAST(floor((doc_id % 8) / 3) + 1 AS BIGINT) AS kf,
      |    (doc_id % 64 + 16) * (doc_id % 48 + 16) AS pixels
      |  FROM documents)
      |SELECT codec, count(*) AS n_videos,
      |  CAST(sum(n) AS BIGINT) AS total_frames,
      |  CAST(sum(kf) AS BIGINT) AS total_keyframes,
      |  CAST(min(40 * n) AS BIGINT) AS mn_dur_ms,
      |  CAST(max(40 * n) AS BIGINT) AS mx_dur_ms,
      |  CAST(max(pixels) AS BIGINT) AS mx_pixels
      |FROM v
      |GROUP BY codec
      |ORDER BY codec""".stripMargin

  val queries: Map[String, Q] = Map(
    "q50_media_decode" -> q50,
    "q140_qoi_decode" -> q140,
    "q144_jpeg_decode" -> q144,
    "q152_mp4_meta" -> q152,
    "q51_media_metadata" -> q51,
    "q52_frame_sample" -> q52,
    "q53_resize_plan" -> q53,
    "q126_bmp_decode" -> q126,
    "q127_wav_decode" -> q127,
    "q128_png_decode" -> q128)

  val oracle: Map[String, String] = Map(
    "q50_media_decode" -> q50Sql,
    "q140_qoi_decode" -> q140Sql,
    "q144_jpeg_decode" -> q144Sql,
    "q152_mp4_meta" -> q152Sql,
    "q51_media_metadata" -> q51Sql,
    "q52_frame_sample" -> q52Sql,
    "q53_resize_plan" -> q53Sql,
    "q126_bmp_decode" -> q126Sql,
    "q127_wav_decode" -> q127Sql,
    "q128_png_decode" -> q128Sql)
}
