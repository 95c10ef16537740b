package graft.multimodal

import graft.functions.DetHash
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt mandate).
  *
  * Images/audio/video are opaque `binary` columns with typed metadata.
  * Decoding goes through the [[Codec]] seam: the default
  * [[StubCodec]] produces a deterministic fake (width, height,
  * n_frames) from a content hash (this container ships no media
  * libraries beyond the JDK), while [[ImageIoCodec]] does REAL image
  * decoding via `javax.imageio`, [[JavaSoundCodec]] REAL audio
  * headers, and [[Mp4Codec]] REAL video container metadata from the
  * ISO-BMFF box index. Everything around the codec — the
  * schema, the batch-shaped partition-local decode loop, the feature
  * column layout — is the real Spark plumbing that runs at 100 TB
  * with any codec dropped in.
  *
  * Scale: `mapPartitions` processes each partition as one batch (codec
  * init amortized per-partition, the Scala twin of a Pandas-UDF
  * `mapInPandas` batch); decode is a narrow map — no shuffle; blobs
  * never leave their input partition.
  */
object Multimodal {

  final case class MediaBlob(doc_id: Long, media_type: String,
                             bytes: Array[Byte])
  /** `codec` records provenance: the name of the codec that actually
    * produced (width, height, n_frames) — `"stub"` marks fabricated
    * dimensions from the deterministic fallback, so real decodes and
    * fake ones are distinguishable downstream (advisor r5).
    */
  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                             width: Int, height: Int, n_frames: Int,
                             codec: String)

  /** The codec seam: dropping in a real media stack (ffmpeg bindings,
    * TwelveMonkeys, libvips…) is one implementation of this trait —
    * the surrounding plumbing (schema, partition-local batch loop,
    * downstream transforms) never changes. Implementations must be
    * Serializable (the instance ships inside the `mapPartitions`
    * closure) and cheap to hold per-executor; anything with heavy
    * per-use state should lazy-init it so the cost is paid once per
    * executor, not per row.
    */
  trait Codec extends Serializable {
    def name: String
    /** → (width, height, n_frames), or None if this codec cannot
      * decode the payload (caller decides the fallback).
      */
    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)]
  }

  /** Deterministic fake: dimensions derived from the md5 of the
    * payload (stable across engines and runs). The default — this
    * container ships no media libraries beyond the JDK, and the
    * oracle-facing queries need cross-engine-reproducible numbers.
    */
  object StubCodec extends Codec {
    val name = "stub"
    // per-THREAD digest (the H60 convention): getInstance per row is
    // the allocation the hot path exists to avoid
    private val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)] = {
      val md = mdLocal.get().digest(bytes)
      val h =
        ((md(0) & 0x7fL) << 48) | ((md(1) & 0xffL) << 40) |
          ((md(2) & 0xffL) << 32) | ((md(3) & 0xffL) << 24) |
          ((md(4) & 0xffL) << 16) | ((md(5) & 0xffL) << 8) | (md(6) & 0xffL)
      Some((320 + (h % 1280).toInt, 240 + (h % 720).toInt,
        1 + (bytes.length / 1024)))
    }
  }

  /** REAL image decode via `javax.imageio` — in the JDK, so no new
    * dependency: PNG/JPEG/GIF/BMP dimensions from the actual pixels.
    * Audio/video (and undecodable payloads) return None; compose with
    * the stub via [[extractMeta]]'s fallback.
    */
  object ImageIoCodec extends Codec {
    val name = "imageio"
    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (mediaType != "image" || bytes.isEmpty) None
      else try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        Option(img).map(i => (i.getWidth, i.getHeight, 1))
      } catch {
        // NonFatal, not just IOException: JDK plugin decoders throw
        // RuntimeExceptions on real-world corrupt payloads (CMMException
        // for broken ICC profiles, IllegalArgumentException, AIOOBE) —
        // one bad blob must take the fallback, not kill the task.
        case scala.util.control.NonFatal(_) => None
      }
  }

  /** REAL audio header decode via `javax.sound.sampled` — also in the
    * JDK: WAV/AIFF/AU. Field mapping for audio rows (documented here
    * because [[MediaMeta]] is modality-generic): width = sample rate
    * in Hz, height = channel count, n_frames = PCM frame count. Images
    * and undecodable payloads return None.
    */
  object JavaSoundCodec extends Codec {
    val name = "javasound"
    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (mediaType != "audio" || bytes.isEmpty) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val fl = in.getFrameLength
          // NOT_SPECIFIED (-1) for some stream types; a Long→Int cast
          // would silently wrap for very long audio — decline instead.
          if (fl < 0 || fl > Int.MaxValue) None
          else Some((fmt.getSampleRate.toInt, fmt.getChannels, fl.toInt))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL video container decode: a pure-JVM ISO-BMFF (MP4/MOV) box
    * parser — no codec, just the container index, so no new
    * dependency. Walks `moov/trak`, identifies the video track via
    * `mdia/hdlr` handler `vide`, reads presentation width/height from
    * `tkhd` (16.16 fixed point) and the frame count as the sum of
    * `stbl/stts` sample counts. Non-video payloads, non-BMFF bytes,
    * and malformed boxes return None (fallback composes via
    * [[extractMeta]]).
    */
  object Mp4Codec extends Codec {
    val name = "mp4"
    private[multimodal] lazy val log =
      org.slf4j.LoggerFactory.getLogger(getClass)

    private def u32(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

    /** Direct children of [start, end) as (type, payloadStart, payloadEnd);
      * stops at the first malformed box (truncated size, overrun).
      */
    private def boxes(b: Array[Byte], start: Int, end: Int): List[(String, Int, Int)] = {
      val out = List.newBuilder[(String, Int, Int)]
      var pos = start
      var ok = true
      while (ok && pos + 8 <= end) {
        val size32 = u32(b, pos)
        val typ = new String(b, pos + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val (hdr, size): (Int, Long) =
          if (size32 == 1L && pos + 16 <= end) // 64-bit largesize
            (16, ((u32(b, pos + 8) << 32) | u32(b, pos + 12)))
          else if (size32 == 0L) (8, (end - pos).toLong) // extends to end
          else (8, size32)
        if (size < hdr || pos + size > end) ok = false
        else {
          out += ((typ, pos + hdr, pos + size.toInt))
          pos += size.toInt
        }
      }
      out.result()
    }

    private def find(b: Array[Byte], s: Int, e: Int, typ: String): Option[(Int, Int)] =
      boxes(b, s, e).collectFirst { case (`typ`, ps, pe) => (ps, pe) }

    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (mediaType != "video" || bytes.length < 16) None
      else try {
        for {
          (ms, me) <- find(bytes, 0, bytes.length, "moov")
          trak <- boxes(bytes, ms, me).collect { case ("trak", ts, te) => (ts, te) }
            .find { case (ts, te) => // the video track: hdlr handler_type 'vide'
              find(bytes, ts, te, "mdia").exists { case (ds, de) =>
                find(bytes, ds, de, "hdlr").exists { case (hs, he) =>
                  // hdlr FullBox: version+flags(4) pre_defined(4) handler_type(4)
                  hs + 12 <= he && new String(bytes, hs + 8, 4,
                    java.nio.charset.StandardCharsets.ISO_8859_1) == "vide"
                }
              }
            }
          (ks, ke) = trak
          (ts2, te2) <- find(bytes, ks, ke, "tkhd")
          wh <- {
            // tkhd FullBox: v0 times are 32-bit (body offset 24 to the
            // post-duration block), v1 are 64-bit (offset 36); then
            // reserved(8) layer(2) alternate_group(2) volume(2)
            // reserved(2) matrix(36) = 52 bytes to width/height (16.16).
            val off = if ((bytes(ts2) & 0xff) == 1) 36 else 24
            val wp = ts2 + off + 52
            if (wp + 8 <= te2)
              Some(((u32(bytes, wp) >> 16).toInt, (u32(bytes, wp + 4) >> 16).toInt))
            else None
          }
          if wh._1 > 0 && wh._2 > 0
        } yield {
          // frame count: sum of stts sample_counts on the video track
          val frames = (for {
            (ds, de) <- find(bytes, ks, ke, "mdia")
            (ns, ne) <- find(bytes, ds, de, "minf")
            (ss, se) <- find(bytes, ns, ne, "stbl")
            (ps, pe) <- find(bytes, ss, se, "stts")
          } yield {
            val n = u32(bytes, ps + 4) // entry_count after version+flags
            var sum = 0L
            var i = 0
            while (i < n && ps + 8 + i * 8 + 8 <= pe) {
              sum += u32(bytes, ps + 8 + i * 8)
              i += 1
            }
            // sanity bound (review r16): stts counts are UNTRUSTED
            // u32s — one corrupt/hostile entry claiming ~2^32 samples
            // used to flow to sampleFrames as n_frames ≈ Int.MaxValue,
            // where sequence() either throws the array-size limit or
            // materializes a multi-GB per-row array and OOMs the
            // executor. Past ~134M frames (>1200 h at 30 fps — beyond
            // any real video) the sample table is treated as corrupt
            // metadata: frames = 0, the fragmented-MP4 "no usable
            // sample table" semantics, and the blob contributes no
            // sample rows instead of killing the job. Logged when it
            // trips (ADVICE r16): a coerced hostile/corrupt table must
            // stay distinguishable from a genuinely fragmented MP4 in
            // the executor logs.
            if (sum > (1L << 27)) {
              Mp4Codec.log.warn(
                s"mp4 stts claims $sum samples (> 2^27) in a " +
                  s"${bytes.length}-byte blob — treating the sample " +
                  "table as corrupt metadata, frames = 0")
              0
            } else sum.toInt
          }).getOrElse(0)
          (wh._1, wh._2, frames)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Everything the bare JDK can genuinely decode: imageio images +
    * javasound audio + ISO-BMFF (MP4/MOV) video container metadata;
    * unknown payloads fall through to the stub via [[extractMeta]]'s
    * fallback.
    */
  object JdkCodec extends Codec {
    val name = "jdk"
    def decode(mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Int)] =
      ImageIoCodec.decode(mediaType, bytes)
        .orElse(JavaSoundCodec.decode(mediaType, bytes))
        .orElse(Mp4Codec.decode(mediaType, bytes))
  }

  /** Partition-local batched decode: blobs → typed metadata. Rows the
    * codec declines fall back to the deterministic stub, so the
    * pipeline never drops or nulls a row when a partial codec (e.g.
    * image-only [[ImageIoCodec]]) is plugged in. A NULL payload (a
    * null binary cell — routine in a 100 TB corpus) decodes as the
    * EMPTY payload (n_bytes 0, stub dims): defined semantics instead
    * of an NPE killing the task (review r15).
    */
  def extractMeta(blobs: Dataset[MediaBlob],
                  codec: Codec = StubCodec): Dataset[MediaMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder init would happen here, once
      it.map { b =>
        val bytes = if (b.bytes == null) Array.emptyByteArray else b.bytes
        codec.decode(b.media_type, bytes) match {
          case Some((w, h, f)) =>
            MediaMeta(b.doc_id, b.media_type, bytes.length.toLong,
              w, h, f, codec.name)
          case None =>
            val (w, h, f) = StubCodec.decode(b.media_type, bytes).get
            MediaMeta(b.doc_id, b.media_type, bytes.length.toLong,
              w, h, f, StubCodec.name)
        }
      }
    }
  }

  /** Frame-sampling stub: every k-th fake frame index of a video blob —
    * the partitioning/explode shape of real frame extraction.
    */
  def sampleFrames(meta: Dataset[MediaMeta], everyK: Int): DataFrame = {
    // loud driver-side require (review r14): everyK <= 0 would reach
    // sequence() and throw per-row mid-job — the late-failure class
    // the n_frames guard below exists to prevent
    require(everyK >= 1, s"sampleFrames needs everyK >= 1, got $everyK")
    meta.toDF()
      // n_frames > 0: a zero-frame video (fragmented MP4 with sample
      // counts in moof/trun, or a metadata-less fallback decode) has
      // nothing to sample and must yield no rows — without the guard,
      // sequence(0, -1, +k) THROWS 'Illegal sequence boundaries' and
      // one such blob kills the whole job
      .filter(col("media_type") === "video" && col("n_frames") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK)))
          .as("frame_idx"))
  }

  /** Resize plan: clamp the longer side to `maxDim`, preserving aspect
    * ratio with integer floor math (the metadata transform of a real
    * resize; the pixel op itself belongs in the stubbed codec). Narrow
    * map — resize never shuffles.
    */
  def resizePlan(meta: Dataset[MediaMeta], maxDim: Int): DataFrame = {
    // loud driver-side require (review r16, the sampleFrames r14
    // convention): maxDim <= 0 would silently emit zero/negative
    // output dimensions downstream
    require(maxDim >= 1, s"resizePlan needs maxDim >= 1, got $maxDim")
    meta.toDF()
      // pure integer math: (side * maxDim) div long — the longer side
      // lands on maxDim EXACTLY (a double multiply can floor to
      // maxDim-1), the shorter floors, aspect is preserved.
      .withColumn("out_w", expr(
        s"CASE WHEN greatest(width, height) <= $maxDim THEN width" +
          s" ELSE CAST((CAST(width AS BIGINT) * $maxDim)" +
          " div greatest(width, height) AS INT) END"))
      .withColumn("out_h", expr(
        s"CASE WHEN greatest(width, height) <= $maxDim THEN height" +
          s" ELSE CAST((CAST(height AS BIGINT) * $maxDim)" +
          " div greatest(width, height) AS INT) END"))
      .select("doc_id", "media_type", "width", "height", "out_w", "out_h")
  }

  /** Column-level pseudo-embedding of a binary payload: 8 deterministic
    * float features from seeded content hashes (the layout a real
    * image-encoder UDF would emit).
    */
  def fakeEmbedding(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // the OUTER cast makes the element type float (review r16):
    // float / float goes through Divide's double-widening, so the
    // old inner cast still produced array<double> — rejected at plan
    // time by the repo's own dot_f64/norm2_f64 kernels, which
    // hard-require array<float>
    array((0 until 8).map(i =>
      ((DetHash.h60(base64(bin), i) % 1000) / 1000d).cast("float")): _*)
}
