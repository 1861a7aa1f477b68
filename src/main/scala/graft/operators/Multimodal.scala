package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media
  * content travels as an opaque `binary` column plus typed metadata,
  * and decode/feature-extract runs as a partition-batched function over
  * the bytes — the Scala analogue of a vectorized Python UDF stage.
  *
  * The DECODE step is a deliberate STUB (`StubDecoder`): this
  * environment has no image/audio codec libraries, so it computes
  * deterministic byte-level features standing in for real pixel/sample
  * decoding. Everything around it — the blob schema, the pluggable
  * `Decoder` trait, the partition-batch shape, metadata derivation,
  * frame sampling — is the real production plumbing: swap `StubDecoder`
  * for a JNI/codec-backed implementation and nothing else changes.
  */
object Multimodal {

  /** One media blob: content + the typed metadata a catalog would
    * carry. `modality` ∈ image|audio|video|text; stub rows derive it
    * from magic bytes.
    */
  case class Blob(blob_id: Long, modality: String, format: String,
                  n_bytes: Long, content: Array[Byte])

  /** Decoded per-blob features. For a real image decoder `vec` would be
    * an embedding/pixel-stat vector and `frames` the decoded frame
    * count; the stub fills them from byte statistics.
    */
  case class BlobFeatures(blob_id: Long, modality: String, n_bytes: Long,
                          byte_sum: Long, mean_byte: Double, frames: Int,
                          vec: Array[Double])

  /** The decode seam. Implementations MUST be pure per-blob functions:
    * the engine calls them inside mapPartitions, one partition batch at
    * a time, so state (codec contexts, model sessions) can be hoisted
    * to once-per-partition in `open()`.
    */
  trait Decoder extends Serializable {
    def open(): Unit = ()
    def decode(b: Blob): BlobFeatures
  }

  /** STUB: byte-histogram features in place of real decoding.
    * Deterministic: byte_sum mod 1e9+7, mean byte value, a 4-bin byte
    * histogram as the "embedding", and n_bytes/1024+1 as the "frame"
    * count. Replace with a codec-backed Decoder in production.
    */
  object StubDecoder extends Decoder {
    private val P = 1000000007L
    def decode(b: Blob): BlobFeatures = {
      var modSum = 0L
      var rawSum = 0L
      val hist = new Array[Double](4)
      b.content.foreach { byte =>
        val u = byte & 0xff
        modSum = (modSum + u) % P
        rawSum += u
        hist(u / 64) += 1
      }
      val n = b.content.length
      BlobFeatures(b.blob_id, b.modality, n.toLong, modSum,
        if (n == 0) 0.0 else rawSum.toDouble / n,
        frames = n / 1024 + 1, vec = hist)
    }
  }

  /** Real container-header dimension parsing for the two image formats
    * the router sniffs — no codec library needed, the dimensions live
    * in fixed, publicly documented header fields. This is the one part
    * of image decoding that is pure byte arithmetic, so it is NOT
    * stubbed: a malformed/truncated/non-image blob yields None, never a
    * fabricated dimension.
    */
  object ImageHeader {

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
    private def be32(b: Array[Byte], i: Int): Long =
      (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

    /** PNG: 8-byte signature, then the IHDR chunk is REQUIRED first —
      * 4-byte length + "IHDR" + width/height as 4-byte big-endian at
      * fixed offsets 16 and 20 (PNG spec §11.2.2).
      */
    def pngDims(b: Array[Byte]): Option[(Int, Int)] = {
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      if (b.length < 24 || !sig.indices.forall(i => u8(b, i) == sig(i))) None
      else if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) None
      else {
        val w = be32(b, 16); val h = be32(b, 20)
        // spec caps dimensions at 2^31-1; 0 is invalid
        if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
        else Some((w.toInt, h.toInt))
      }
    }

    // SOFn frame headers carry the dimensions; C4 (DHT), C8 (JPG
    // extension), CC (DAC) share the Cx range but are not frames
    private def isSof(m: Int): Boolean =
      m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

    // standalone markers with no length field: TEM + RST0-7
    private def standalone(m: Int): Boolean = m == 0x01 || (m >= 0xd0 && m <= 0xd7)

    /** JPEG: walk the marker-segment chain from SOI until a SOFn frame
      * header; lines 5-8 of the segment are precision, height(2),
      * width(2) (ITU T.81 §B.2.2). Stops at SOS/EOI (no frame header
      * seen) or lost sync — truncated fixtures exercise this.
      */
    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xff) return None // lost sync: not a marker
        var j = i
        while (j + 1 < b.length && u8(b, j + 1) == 0xff) j += 1 // fill bytes
        val marker = u8(b, j + 1)
        if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS first
        if (standalone(marker)) { i = j + 2 }
        else {
          if (j + 3 >= b.length) return None
          val len = be16(b, j + 2)
          if (len < 2) return None
          if (isSof(marker)) {
            if (j + 8 >= b.length) return None
            val h = be16(b, j + 5); val w = be16(b, j + 7)
            return if (w > 0 && h > 0) Some((w, h)) else None
          }
          i = j + 2 + len
        }
      }
      None
    }

    private def le16i(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32i(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

    /** GIF: 6-byte version signature, then the Logical Screen
      * Descriptor's width/height as LITTLE-endian 16-bit at offsets
      * 6 and 8 (GIF89a spec §18) — the endianness twin of PNG's
      * big-endian IHDR.
      */
    def gifDims(b: Array[Byte]): Option[(Int, Int)] = {
      def magic(s: String) = s.getBytes.indices.forall(i => b(i) == s.getBytes()(i))
      if (b.length < 10) None
      else if (!magic("GIF87a") && !magic("GIF89a")) None
      else {
        val w = le16i(b, 6); val h = le16i(b, 8)
        if (w > 0 && h > 0) Some((w, h)) else None
      }
    }

    /** BMP: "BM" file header (14 bytes), then BITMAPINFOHEADER with
      * size ≥ 40, width at offset 18 and height at 22 as SIGNED
      * little-endian 32-bit — a NEGATIVE height is the spec's
      * top-down marker, so the raw value is returned and the caller
      * derives orientation; abs(height) is the pixel height.
      */
    def bmpInfo(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 26 || b(0) != 'B' || b(1) != 'M') None
      else if (le32i(b, 14) < 40) None // core-header BMPs lack signed height
      else {
        val w = le32i(b, 18); val h = le32i(b, 22)
        if (w > 0 && h != 0) Some((w, h)) else None
      }
    }

    /** Dispatch on the sniffed format. Unknown formats → None — the
      * honest answer, never a stand-in. BMP's second component is the
      * RAW signed height (negative = top-down).
      */
    def dimensions(format: String, bytes: Array[Byte]): Option[(Int, Int)] =
      format match {
        case "jpeg" => jpegDims(bytes)
        case "png"  => pngDims(bytes)
        case "gif"  => gifDims(bytes)
        case "bmp"  => bmpInfo(bytes)
        case _      => None
      }
  }

  /** Audio container headers where the parse is pure byte arithmetic —
    * the audio twin of [[ImageHeader]]: WAV carries sample rate and
    * channel count in its `fmt ` chunk; an MP3 with an ID3v2 prefix
    * declares the tag's size in four SYNCSAFE bytes. Malformed or
    * truncated input → None, never a fabricated value.
    */
  object AudioHeader {

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
        (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
    private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
      s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    /** WAV: "RIFF" + size + "WAVE", then a chunk chain of
      * 4CC + LE-u32 size, each chunk word-aligned (odd sizes carry a
      * pad byte) — walked until the REQUIRED `fmt ` chunk, which holds
      * channels at +2 and sample rate at +4 (RIFF/WAVE spec). Walking
      * the chain, not assuming the canonical 44-byte layout, is what
      * survives files with LIST/JUNK chunks before `fmt `.
      */
    def wavInfo(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 12 || !fourcc(b, 0, "RIFF") || !fourcc(b, 8, "WAVE")) return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (size > Int.MaxValue) return None // lost sync into garbage
        if (fourcc(b, i, "fmt ")) {
          if (size < 16 || i + 8 + 16 > b.length) return None
          val ch = le16(b, i + 10)
          val sr = le32(b, i + 12)
          return if (sr > 0 && sr <= Int.MaxValue && ch > 0) Some((sr.toInt, ch))
                 else None
        }
        i += 8 + size.toInt + (size.toInt & 1)
      }
      None
    }

    /** ID3v2 header: "ID3" + version(2) + flags(1) + a 4-byte SYNCSAFE
      * size (every byte < 0x80, 7 bits each — id3v2.4 §3.1); the size
      * excludes the 10-byte header. 0xFF version bytes mark an invalid
      * header per spec.
      */
    def id3TagSize(b: Array[Byte]): Option[Long] = {
      if (b.length < 10 || !fourcc(b, 0, "ID3")) return None
      if (u8(b, 3) == 0xff || u8(b, 4) == 0xff) return None
      val ss = Array(u8(b, 6), u8(b, 7), u8(b, 8), u8(b, 9))
      if (ss.exists(_ >= 0x80)) return None
      Some((ss(0).toLong << 21) | (ss(1).toLong << 14) |
        (ss(2).toLong << 7) | ss(3).toLong)
    }
  }

  /** Per-blob parsed audio header fields; None where the format does
    * not carry the field or the header is malformed.
    */
  case class BlobAudio(blob_id: Long, format: String,
                       sample_rate: Option[Int], channels: Option[Int],
                       tag_size: Option[Long])

  /** Parse real sample-rate/channel/tag-size fields out of WAV/ID3
    * headers — row-local byte work, zero shuffle, the audio twin of
    * [[imageDimensions]].
    */
  def audioInfo(blobs: Dataset[Blob]): Dataset[BlobAudio] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions(_.map { b =>
      b.format match {
        case "wav" =>
          val w = AudioHeader.wavInfo(b.content)
          BlobAudio(b.blob_id, b.format, w.map(_._1), w.map(_._2), None)
        case "mp3" =>
          BlobAudio(b.blob_id, b.format, None, None,
            AudioHeader.id3TagSize(b.content))
        case _ => BlobAudio(b.blob_id, b.format, None, None, None)
      }
    })
  }

  /** ISO-BMFF (MP4) box structure where the parse is pure byte
    * arithmetic — the video member of the [[ImageHeader]] /
    * [[AudioHeader]] family. Boxes are big-endian u32 size + 4CC type
    * (size 1 → 64-bit largesize follows; size 0 → box runs to end of
    * input, ISO 14496-12 §4.2); the movie timescale and duration live
    * in moov/mvhd, whose field widths differ between version 0 (32-bit
    * times) and version 1 (64-bit times). Malformed or truncated input
    * → None, never a fabricated value.
    */
  object Mp4Header {

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    private def be64(b: Array[Byte], i: Int): Long =
      (be32(b, i) << 32) | be32(b, i + 4)
    private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
      s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    /** Walk sibling boxes in [start, end) for `typ`; returns the
      * payload span (payloadStart, boxEnd). A box that declares more
      * bytes than the input holds is truncated → None, and a size
      * below the header's own length means lost sync → None.
      */
    private def findBox(b: Array[Byte], start: Int, end: Int,
                        typ: String): Option[(Int, Int)] = {
      var i = start.toLong
      while (i + 8 <= end) {
        val ii = i.toInt
        val size32 = be32(b, ii)
        val (hdr, size): (Int, Long) =
          if (size32 == 1L) {
            if (i + 16 > end) return None
            (16, be64(b, ii + 8))
          } else if (size32 == 0L) (8, end - i)
          else (8, size32)
        if (size < hdr) return None
        val boxEnd = i + size
        if (fourcc(b, ii + 4, typ))
          return if (boxEnd <= end) Some(((i + hdr).toInt, boxEnd.toInt))
                 else None
        if (boxEnd > end) return None
        i = boxEnd
      }
      None
    }

    /** Major brand from the ftyp box, which must come first in the
      * file (ISO 14496-12 §4.3): 4 ASCII chars right after the box
      * header.
      */
    def majorBrand(b: Array[Byte]): Option[String] =
      if (b.length < 12 || !fourcc(b, 4, "ftyp")) None
      else Some(new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII))

    /** (timescale, duration) out of moov/mvhd, honoring both field
      * layouts: version 0 packs creation/modification times in 32
      * bits (timescale at payload+12, duration at +16), version 1 in
      * 64 (timescale at +20, duration at +24 as u64).
      */
    def mvhdInfo(b: Array[Byte]): Option[(Long, Long)] =
      for {
        moov <- findBox(b, 0, b.length, "moov")
        mvhd <- findBox(b, moov._1, moov._2, "mvhd")
        info <- {
          val (hs, he) = mvhd
          if (he - hs < 4) None
          else (b(hs) & 0xff) match {
            case 0 if he - hs >= 20 => Some((be32(b, hs + 12), be32(b, hs + 16)))
            case 1 if he - hs >= 32 => Some((be32(b, hs + 20), be64(b, hs + 24)))
            case _ => None
          }
        }
      } yield info
  }

  /** Per-blob parsed MP4 movie-header fields; None where the blob is
    * not an MP4 or the box chain is malformed/truncated.
    */
  case class BlobVideo(blob_id: Long, format: String, brand: Option[String],
                       timescale: Option[Long], duration: Option[Long])

  /** Parse real brand/timescale/duration fields out of MP4 box
    * structure — row-local byte work, zero shuffle, the video twin of
    * [[imageDimensions]] / [[audioInfo]].
    */
  def videoInfo(blobs: Dataset[Blob]): Dataset[BlobVideo] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions(_.map { b =>
      if (b.format == "mp4") {
        val m = Mp4Header.mvhdInfo(b.content)
        BlobVideo(b.blob_id, b.format, Mp4Header.majorBrand(b.content),
          m.map(_._1), m.map(_._2))
      } else BlobVideo(b.blob_id, b.format, None, None, None)
    })
  }

  /** Per-blob parsed image dimensions; None for non-images and for
    * malformed headers.
    */
  case class BlobDims(blob_id: Long, format: String,
                      width: Option[Int], height: Option[Int])

  case class BlobImage(blob_id: Long, format: String,
                       width: Option[Int], height: Option[Int],
                       top_down: Option[Boolean])

  /** [[imageDimensions]] plus orientation: BMP's signed height is
    * normalized to abs() with the sign surfaced as `top_down`;
    * formats without an orientation notion (gif/jpeg/png) carry null.
    */
  def imageInfo(blobs: Dataset[Blob]): Dataset[BlobImage] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions(_.map { b =>
      ImageHeader.dimensions(b.format, b.content) match {
        case Some((w, h)) =>
          val td = if (b.format == "bmp") Some(h < 0) else None
          BlobImage(b.blob_id, b.format, Some(w), Some(math.abs(h)), td)
        case None => BlobImage(b.blob_id, b.format, None, None, None)
      }
    })
  }

  /** Parse real width/height out of JPEG/PNG headers, partition-
    * batched like [[extractFeatures]] — row-local byte work, zero
    * shuffle, no driver involvement.
    */
  def imageDimensions(blobs: Dataset[Blob]): Dataset[BlobDims] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions(_.map { b =>
      val d = ImageHeader.dimensions(b.format, b.content)
      BlobDims(b.blob_id, b.format, d.map(_._1), d.map(_._2))
    })
  }

  /** Wrap a (id, binary) DataFrame into typed blobs, sniffing modality
    * and format from magic bytes — pure expression work, pushes the
    * binary column through untouched.
    */
  def asBlobs(df: DataFrame, idCol: String, binCol: String): Dataset[Blob] = {
    val spark = df.sparkSession
    import spark.implicits._
    val magic = upper(hex(substring(col(binCol), 1, 4)))
    // RIFF alone is a container family (AVI, WEBP, ...); only the
    // "WAVE" form type at offset 8 makes it audio/wav
    val riffWave = magic === "52494646" &&
      upper(hex(substring(col(binCol), 9, 4))) === "57415645"
    // ISO-BMFF: the first 4 bytes are the ftyp box SIZE (arbitrary),
    // the "ftyp" 4CC at offset 4 is the actual signature — stronger
    // than the former common-size heuristic (0x18/0x20), which both
    // missed other sizes and matched non-MP4 data
    val isoFtyp = upper(hex(substring(col(binCol), 5, 4))) === "66747970"
    df.select(
      col(idCol).cast("long").as("blob_id"),
      when(magic.startsWith("FFD8FF"), "image")
        .when(magic.startsWith("89504E47"), "image")
        .when(magic.startsWith("47494638"), "image") // "GIF8"
        .when(magic.startsWith("424D"), "image")     // "BM"
        .when(magic.startsWith("494433"), "audio")
        .when(magic.startsWith("664C6143"), "audio")
        .when(riffWave, "audio")
        .when(isoFtyp, "video")
        .otherwise("text").as("modality"),
      when(magic.startsWith("FFD8FF"), "jpeg")
        .when(magic.startsWith("89504E47"), "png")
        .when(magic.startsWith("47494638"), "gif")
        .when(magic.startsWith("424D"), "bmp")
        .when(magic.startsWith("494433"), "mp3")
        .when(magic.startsWith("664C6143"), "flac")
        .when(riffWave, "wav")
        .when(isoFtyp, "mp4")
        .otherwise("raw").as("format"),
      length(col(binCol)).cast("long").as("n_bytes"),
      col(binCol).as("content")).as[Blob]
  }

  /** The batched decode stage: one `Decoder` instance per partition,
    * streamed over the blobs — constant memory, no driver involvement,
    * embarrassingly parallel at any scale.
    */
  def extractFeatures(blobs: Dataset[Blob], decoder: Decoder): Dataset[BlobFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      decoder.open()
      it.map(decoder.decode)
    }
  }

  /** Frame sampling: keep every `stride`-th frame index of each blob —
    * the video-pipeline primitive, expressed on the stub's frame count.
    */
  def sampleFrames(features: Dataset[BlobFeatures], stride: Int): DataFrame =
    features.toDF()
      .select(col("blob_id"), col("frames"),
        explode(sequence(lit(0), col("frames") - 1, lit(stride))).as("frame_idx"))

  /** Resize plumbing: rebin each decoded feature vector to `dim` slots
    * by averaging its source bins (area interpolation — what an image
    * resize does per channel, applied to the decoded representation).
    * Pure expression work over the materialized `vec` column; with a
    * real decoder the same stage resizes pixel rows.
    */
  def resizeVec(features: Dataset[BlobFeatures], dim: Int): DataFrame = {
    require(dim >= 1)
    val n = size(col("vec"))
    val bin = (j: org.apache.spark.sql.Column) => {
      val lo = floor(j * n / dim).cast("int")          // 0-based incl.
      val hi = floor((j + 1) * n / dim).cast("int")    // 0-based excl.
      val sliceLen = greatest(hi - lo, lit(1))
      val piece = slice(col("vec"), lo + 1, sliceLen)
      // divide by sliceLen, not size(piece): equal for n >= 1 (hi <= n
      // always) and size(piece) would re-evaluate the slice; the n = 0
      // case is handled by the null guard below
      aggregate(piece, lit(0.0), (a, v) => a + v) / sliceLen
    }
    // empty decoded vector => null resized vector (no data), never a
    // fabricated all-zero feature row
    val resized = when(n > 0, transform(sequence(lit(0), lit(dim - 1)), bin))
      .otherwise(lit(null).cast("array<double>"))
    features.toDF()
      .select(col("blob_id"), col("modality"), col("vec"),
        resized.as("vec_resized"))
  }

  /** Average-hash (aHash) perceptual fingerprints over a quantized
    * thumbnail column (`array<bigint>` pixels, e.g. the 8×8 grayscale
    * an image resize emits — real thumbnails ARE uint8, so integer
    * pixels lose nothing). Classic aHash: bit_j = pixel_j > mean, held
    * as the exact integer comparison `p_j·L > Σp` (L = pixel count) —
    * no float mean, so any engine replays it bit-for-bit. The
    * threshold-at-the-mean construction makes the hash invariant under
    * any affine brightness change p → a·p + b (a > 0): both sides of
    * the comparison scale identically — the property that lets aHash
    * catch re-encoded/brightness-shifted copies of an image.
    *
    * Output: (idCol, bits `array<int>` of L 0/1s, blocks `array<int>`
    * — the bits packed 8 per block, the hamming-LSH bucket keys).
    */
  def aHash(df: DataFrame, idCol: String, pixelCol: String): DataFrame =
    df.select(col(idCol),
        col(pixelCol).as("__px"),
        expr(s"aggregate($pixelCol, 0L, (a, x) -> a + x)").as("__tot"))
      .select(col(idCol),
        expr("transform(__px, x -> IF(x * size(__px) > __tot, 1, 0))")
          .as("bits"))
      .withColumn("blocks",
        expr("transform(sequence(0, int(ceil(size(bits) / 8.0)) - 1), " +
          "b -> aggregate(slice(bits, b * 8 + 1, 8), 0, (a, v) -> a * 2 + v))"))

  /** The (id, rep) fingerprint-group map the rep-grain form of
    * [[ahashNearDupPairs]] (`expand = false`) defers member expansion
    * against: rep = min id over the exact aHash fingerprint.
    * Recomputed from pixels (one scan + one shuffle); the deferred
    * expansion is `repPairs ⋈ map ON doc_a = rep ⋈ map ON doc_b = rep`
    * — a join the consumer runs only if it needs member-grain pairs
    * at all (counting, cluster sizing, and rep-level dedup don't).
    */
  def ahashMemberMap(df: DataFrame, idCol: String,
                     pixelCol: String): DataFrame =
    aHash(df, idCol, pixelCol)
      .withColumn("rep",
        min(col(idCol)).over(Window.partitionBy(col("bits"))))
      .select(col(idCol), col("rep"))

  /** Default per-wave matched-pair work ceiling for
    * [[ahashNearDupPairs]]. Unlike Fuzzy's scratch-byte budget, the
    * single-join design below never MATERIALIZES candidates — pairs
    * stream through a codegen'd probe — so the budget bounds per-stage
    * probe WORK (and with it straggler exposure and AQE's skew-split
    * granularity), not shuffle bytes. 2^28 ≈ 2.7e8 pairs is a few
    * seconds of codegen'd popcount per core.
    */
  val DefaultPairWorkCeiling: Long = 1L << 28

  /** Image near-duplicate pairs by perceptual hash: all (a < b) pairs
    * whose aHash fingerprints differ in at most `maxDist` of the L
    * bits — brightness-shifted copies land at distance 0, small local
    * edits at the handful of bits their pixels flip, unrelated images
    * at ~L/2.
    *
    * Scale shape, hardened for the hot-bucket failure mode (round-13
    * sf1 measured the previous candidate-materializing plan at 34×
    * wall for 10× rows):
    *
    *  1. IDENTICAL fingerprints collapse to one representative before
    *     any join. A real corpus's hot bucket is overwhelmingly exact
    *     repetition (flat/uniform thumbnails, re-encoded copies): those
    *     rows now cost one rep each, and their quadratic pair set is
    *     emitted combinatorially at OUTPUT scale (distance 0 within a
    *     fingerprint group needs no verify at all).
    *  2. Candidates come from ONE self-join of the rep bucket relation
    *     on (block index, block value) — by pigeonhole a pair within
    *     `maxDist` < #blocks hamming must agree on at least one whole
    *     8-bit block, so the bucket join is LOSSLESS for the threshold.
    *     The packed fingerprint words ride along as SCALAR long columns
    *     (word count is a plan-time constant read via one bounded
    *     metadata collect), so the exact hamming verify is a codegen'd
    *     `bit_count(a ^ b)` sum evaluated as the join residual — no
    *     per-pair higher-order functions, no candidate materialization,
    *     and the only distinct runs over SURVIVORS (≤ #blocks dups per
    *     pair), never candidates.
    *  3. Predict-then-wave budget breaker (the Fuzzy pattern): the
    *     exact matched-pair volume Σ C(bucket,2) is pre-counted in
    *     DECIMAL from linear-cost bucket stats; past `pairWorkCeiling`
    *     the bucket keys split into hash classes executed as SEQUENTIAL
    *     waves (each localCheckpoint'ed, then a local-mode GC nudge, so
    *     a wave's shuffle scratch is released before the next starts —
    *     [[Lineage.unionWaves]]), capped at `maxWaves`.
    *     When ONE bucket's own pair count exceeds the ceiling —
    *     bucket-granular classes cannot bound that (the hot bucket
    *     hashes whole into one wave) — the waves partition the
    *     right-side REP hash instead, so a count-c bucket costs
    *     ≤ c·⌈c/waves⌉ probes per wave at any skew, at the price of
    *     re-joining the (linear-sized) left relation each wave.
    *     `onWaves` observes the decision for specs.
    *
    * EAGER by contract: constructing the result runs Spark jobs (the
    * 1-row word-count probe, the bucket-stats pre-count, and per-wave
    * localCheckpoints when waved) — callers get a materialization-
    * backed plan, not a lazy one. That is the same trade every
    * budgeted/waved operator here makes (Fuzzy, triangleCountsAuto):
    * the breaker needs measured volume before it can pick a shape.
    *
    * At production corpus sizes the remaining knob is thumbnail size L
    * (more bits → more blocks → finer buckets), a parameter, not a
    * plan change.
    */
  def ahashNearDupPairs(df: DataFrame, idCol: String, pixelCol: String,
                        maxDist: Int = 7,
                        pairWorkCeiling: Long = DefaultPairWorkCeiling,
                        maxWaves: Int = 64,
                        onWaves: Int => Unit = _ => (),
                        expand: Boolean = true): DataFrame = {
    require(pairWorkCeiling > 0 && maxWaves >= 1)
    // Losslessness needs maxDist < #blocks, i.e. at least 8·(maxDist+1)
    // pixels; thumbnail length is data, so the precondition is enforced
    // in-plan (the c1 assert_true pattern), failing the job loudly
    // instead of silently missing pairs on too-short fingerprints.
    //
    // The keyed fingerprint relation is PERSISTED, and that is
    // load-bearing: it is read four times (rep buckets, member
    // expansion ×2, intra-group pairs), and without the materialization
    // barrier Catalyst's project-collapsing inlines the whole per-pixel
    // aHash tree into every consumer — re-deriving each doc's
    // fingerprint PER CONSUMER ROW (the t2/x12 re-evaluated-lambda
    // trap, measured 557s vs ~2s at sf0.1).
    // 32-bit pack slices, NOT 64: a 64-bit pack's fold a*2+v must wrap
    // through the int64 sign bit on its last step, which throws
    // ARITHMETIC_OVERFLOW in any ANSI session (Spark 4's default,
    // pinned off only inside GraftSession); 32 bits per int64 word
    // keeps every intermediate ≤ 2^32 and XOR/popcount is identical.
    val keyed = Lineage.shared(aHash(df, idCol, pixelCol)
      .withColumn("bits",
        when(assert_true(size(col("bits")) >= lit(8 * (maxDist + 1)),
          lit(s"thumbnail too short for lossless maxDist=$maxDist"))
          .isNull, col("bits")))
      .withColumn("words",
        expr("transform(sequence(0, int(ceil(size(bits) / 32.0)) - 1), " +
          "w -> aggregate(slice(bits, w * 32 + 1, 32), 0L, " +
          "(a, v) -> a * 2L + v))"))
      // fingerprint-group representative: min id over the exact packed
      // fingerprint — one shuffle, yields both the rep relation
      // (id = rep) and the member→rep map for expansion
      .withColumn("__rep",
        min(col(idCol)).over(Window.partitionBy(col("words"))))
      .select(col(idCol), col("blocks"), col("words"), col("__rep")))

    val empty = {
      val base = keyed.limit(0)
        .select(col(idCol).as("doc_a"), col(idCol).as("doc_b"),
          lit(0L).as("hamming"))
      if (expand) base
      else base.select(col("doc_a"), col("doc_b"), col("hamming"),
        lit(0L).as("n_a"), lit(0L).as("n_b"))
    }
    // plan-time word count (bounded 1-row metadata collect — the
    // IvfIndex convention): lets the verify carry scalar long columns
    // instead of arrays, keeping the hot loop in whole-stage codegen
    val nWordsRow = keyed.select(size(col("words")).as("n")).limit(1)
      .collect()
    if (nWordsRow.isEmpty) return empty
    val nWords = nWordsRow.head.getInt(0)

    val wordCols = (0 until nWords)
      .map(i => element_at(col("words"), i + 1).as(s"__w$i"))
    val buckets = keyed.filter(col(idCol) === col("__rep"))
      .select(col("__rep").as("__r") +: wordCols :+
        posexplode(col("blocks")).as(Seq("__bpos", "__bval")): _*)

    // exact pre-count of matched-pair volume from linear-cost bucket
    // stats (never the pairs themselves), in DECIMAL so a 100 TB
    // misuse cannot overflow the prediction it exists to bound; the
    // same pass yields the HOTTEST bucket's count, which decides the
    // wave-partitioning axis below
    val statsRow = buckets.groupBy(col("__bpos"), col("__bval")).count()
      .agg(coalesce(
        sum((col("count").cast("decimal(38,0)") * (col("count") - 1))
          .cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("v"),
        coalesce(max(col("count")), lit(0L)).as("mx"))
      .head
    val predicted = BigInt(statsRow.getDecimal(0).toBigInteger) / 2
    val maxBucket = BigInt(statsRow.getLong(1))
    val hottestPairs = maxBucket * (maxBucket - 1) / 2
    val waves = Lineage.waves(predicted, pairWorkCeiling, maxWaves)
    onWaves(waves)

    val xb = buckets.toDF(buckets.columns.map(_ + "a").toIndexedSeq: _*)
    val yb = buckets.toDF(buckets.columns.map(_ + "b").toIndexedSeq: _*)
    val hamming = (0 until nWords)
      .map(i => expr(s"bit_count(__w${i}a ^ __w${i}b)"))
      .reduce(_ + _).cast("long")
    def joinClass(xs: DataFrame, ys: DataFrame): DataFrame =
      xs.join(ys,
          col("__bposa") === col("__bposb") &&
            col("__bvala") === col("__bvalb") &&
            col("__ra") < col("__rb"))
        .withColumn("__h", hamming)
        .filter(col("__h") <= maxDist)
        .select(col("__ra"), col("__rb"), col("__h"))
    val repPairs = (if (waves == 1) joinClass(xb, yb)
    else if (hottestPairs <= pairWorkCeiling) {
      // waves partition the BUCKET KEY space, so each matched pair is
      // probed in exactly the wave its (bpos, bval) hashes to AND both
      // join sides shrink ~1/waves per wave; sound because no single
      // bucket out-sizes the ceiling (checked above — a hot bucket
      // hashes whole into one wave). The cross-wave union still needs
      // the survivor-grain distinct below because a pair agreeing on
      // blocks in two waves verifies twice — same grain as the
      // single-wave duplicate-per-agreeing-block
      def cls(p: Column, v: Column) =
        pmod(xxhash64(p, v), lit(waves.toLong))
      // each wave materializes survivor-sized, never candidate-sized
      Lineage.unionWaves(waves)(g =>
        joinClass(
          xb.filter(cls(col("__bposa"), col("__bvala")) === g),
          yb.filter(cls(col("__bposb"), col("__bvalb")) === g)))
    } else {
      // HOT-BUCKET regime: one (bpos, bval) bucket alone exceeds the
      // ceiling, so bucket-granular waves cannot bound per-wave work —
      // the hot bucket would land whole in one wave. Partition on the
      // RIGHT REP instead (salting): every pair is probed exactly in
      // the wave its __rb hashes to, and a bucket of count c costs
      // ≤ c·⌈c/waves⌉ probes per wave regardless of skew. Price: the
      // probe side re-joins whole each wave (the left relation is
      // linear in reps×blocks, never pair-shaped), which is why this
      // is the fallback, not the default.
      Lineage.unionWaves(waves)(g =>
        joinClass(xb,
          yb.filter(pmod(xxhash64(col("__rb")), lit(waves.toLong)) === g)))
    })
      // survivors only: ≤ #blocks duplicates per pair, output-scale
      .distinct()

    val members = keyed.select(col("__rep"), col(idCol))
    if (!expand) {
      // REP GRAIN (expand = false): survivor-sized output — one row
      // per fingerprint-group pair carrying both group sizes, plus one
      // (rep, rep, 0) row per ≥2-member group for the intra-group
      // distance-0 mass. Lossless: member expansion is a join against
      // the (id, rep) map (see [[ahashMemberMap]]) the consumer can
      // defer or skip — at sf10 the expanded form spends its wall
      // materializing 476 M pairs the consumer may only ever count.
      val sizes = members.groupBy(col("__rep"))
        .agg(count(lit(1)).as("__n"))
      val crossRep = repPairs
        .join(sizes.select(col("__rep").as("__ra"), col("__n").as("n_a")),
          "__ra")
        .join(sizes.select(col("__rep").as("__rb"), col("__n").as("n_b")),
          "__rb")
        .select(col("__ra").as("doc_a"), col("__rb").as("doc_b"),
          col("__h").as("hamming"), col("n_a"), col("n_b"))
      val intraRep = sizes.filter(col("__n") >= 2)
        .select(col("__rep").as("doc_a"), col("__rep").as("doc_b"),
          lit(0L).as("hamming"), col("__n").as("n_a"), col("__n").as("n_b"))
      return crossRep.unionAll(intraRep)
    }
    // cross-group pairs: every member pair inherits its reps' exact
    // hamming (members share their rep's fingerprint verbatim)
    val cross = repPairs
      .join(members.select(col("__rep").as("__ra"), col(idCol).as("__ia")),
        "__ra")
      .join(members.select(col("__rep").as("__rb"), col(idCol).as("__ib")),
        "__rb")
      .select(least(col("__ia"), col("__ib")).as("doc_a"),
        greatest(col("__ia"), col("__ib")).as("doc_b"),
        col("__h").as("hamming"))
    // intra-group pairs: identical fingerprints, distance 0 by
    // construction — no verify, output-bound
    val intra = members.select(col("__rep").as("__r"), col(idCol).as("__ia"))
      .join(members.select(col("__rep").as("__r"), col(idCol).as("__ib")),
        "__r")
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("doc_a"), col("__ib").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionAll(intra)
  }
}
