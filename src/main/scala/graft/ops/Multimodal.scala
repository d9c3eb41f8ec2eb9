package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads ride through Spark as opaque `binary` columns with
  * typed metadata, and per-item decode/feature-extraction runs as a
  * partition-local batch transform.
  *
  * The decode itself is a STUB — media codec libraries are not in this
  * build, so [[FakeCodec]] derives deterministic pseudo-media properties
  * from the payload bytes. Everything around the stub is the real
  * engineering surface and is tested: the (id, kind, payload, metadata)
  * schema, binary columns flowing through shuffles/joins, the
  * partition-local batch execution shape (`mapPartitions` over a typed
  * Dataset — the JVM analog of a vectorized batch UDF: one codec init
  * per partition, then a streamed batch of records), and byte-level
  * stats computed as codegen'd expressions where no decode is needed.
  *
  * At 100 TB: payloads dominate the bytes. Rules encoded here —
  * (a) never shuffle payloads for metadata-only queries (prune to
  * metadata columns first, `mmStats` reads only byte lengths);
  * (b) decode once per partition batch, not per row;
  * (c) keep per-partition batches bounded by repartitioning on media_id
  * before the decode stage.
  */
object Multimodal {

  /** Typed record: media payload + metadata. */
  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      source: String)

  final case class DecodedFeatures(
      media_id: Long,
      kind: String,
      byte_len: Long,
      width: Int, // image/video: pixels; audio: 0
      height: Int,
      channels: Int,
      duration_ms: Long, // audio/video: derived; image: 0
      feature: Array[Float]) // fixed-width embedding-like vector

  /** Deterministic stand-in for a real media codec. A production build
    * replaces decode() with actual JNI/library calls — the call shape
    * (bytes in, typed features out, partition-local init) is what the
    * pipeline depends on, not the pixel math.
    *
    * Pseudo-properties derive from the md5 of the payload (not a JVM
    * hashCode): md5 is reproducible in any engine, so the decode stage
    * is cross-system auditable — and oracle-checkable — rather than
    * JVM-bound. All arithmetic stays in non-negative ints (no
    * engine-specific negative division/modulo semantics) and the
    * feature components are IEEE single-precision quotients, which
    * divide identically on every IEEE-754 platform.
    */
  object FakeCodec {
    /** Per-partition "codec handle" — stands in for an expensive native
      * init that must NOT happen per record.
      */
    final class Handle private[FakeCodec] () {
      private val md = java.security.MessageDigest.getInstance("MD5")
      def decode(r: MediaRecord): DecodedFeatures = {
        val len = r.payload.length.toLong
        val hx = TextAnalysis.md5Hex(md, r.payload)
        def nib(i: Int): Int = Character.digit(hx.charAt(i), 16)
        // 28-bit non-negative value from the first 7 md5 nibbles
        var hv = 0
        var i = 0
        while (i < 7) { hv = (hv << 4) | nib(i); i += 1 }
        val w = 64 + hv % 512
        val ht = 64 + (hv / 512) % 512
        val feat = Array.tabulate(8)(i => nib(i).toFloat / 15.0f)
        r.kind match {
          case "image" => DecodedFeatures(r.media_id, r.kind, len, w, ht, 3, 0L, feat)
          case "audio" => DecodedFeatures(r.media_id, r.kind, len, 0, 0, 2, 1 + len / 4, feat)
          case _ => DecodedFeatures(r.media_id, r.kind, len, w, ht, 3, 1 + len / 100, feat)
        }
      }
    }
    def open(): Handle = new Handle()
  }

  /** Synthesize a media table from `documents` (no binary fixtures ship
    * with the testdata): payload = UTF-8 text bytes, kind assigned
    * round-robin. Deterministic, so oracles can recompute byte stats.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(
      $"doc_id".as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3 + 1).cast("int")).as("kind"),
      encode($"text", "UTF-8").as("payload"),
      $"source")
  }

  /** Metadata-only stats over binary payloads — pure expressions, no
    * decode, and crucially no shuffle of the payload bytes: the
    * aggregation reads only (kind, length(payload)).
    */
  def mmStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select($"kind", length($"payload").cast("long").as("blen"))
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n_files"),
        sum($"blen").as("total_bytes"),
        min($"blen").as("min_bytes"),
        max($"blen").as("max_bytes"))
      .orderBy("kind")
  }

  /** Partition-local batch decode: one codec handle per partition, then
    * a streamed pass over its records (the mapPartitions analog of a
    * vectorized batch UDF). Repartition bounds batch size and spreads
    * decode work regardless of upstream file layout.
    */
  def decodeFeatures(media: Dataset[MediaRecord], partitions: Int): Dataset[DecodedFeatures] = {
    import media.sparkSession.implicits._
    media
      .repartition(partitions, col("media_id"))
      .mapPartitions { it =>
        val codec = FakeCodec.open() // once per partition, not per row
        it.map(codec.decode)
      }
  }

  /** Decode stage as a query: documents-derived media → features.
    * Feature vector echoed as its sum (scalar) to keep the result
    * hash-friendly. The sum is folded inside the typed decode pass —
    * compiled JVM loop, not Catalyst's interpreted `aggregate` HOF.
    */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).as[MediaRecord]
    decodeFeatures(media, partitions = 32)
      .map { d =>
        var sum = 0.0
        var i = 0
        while (i < d.feature.length) { sum += d.feature(i); i += 1 }
        (d.media_id, d.kind, d.byte_len, d.width.toLong, d.height.toLong,
          d.channels.toLong, d.duration_ms, sum)
      }
      .toDF("media_id", "kind", "byte_len", "width", "height",
        "channels", "duration_ms", "feature_sum")
      .orderBy("media_id")
  }

  /** Resize plumbing: new dims from a target box, payload re-emitted
    * (stub: truncation stands in for re-encoding). The point under test
    * is binary columns surviving a transform + shuffle round-trip.
    */
  def mmResize(s: SparkSession, dir: String, maxDim: Int = 128): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).as[MediaRecord]
    val decoded = decodeFeatures(media, partitions = 32).toDF()
      .select($"media_id", $"width", $"height")
    mediaTable(s, dir)
      .join(decoded, "media_id")
      .select(
        $"media_id",
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        least($"width", lit(maxDim)).cast("long").as("new_width"),
        least($"height", lit(maxDim)).cast("long").as("new_height"),
        substring($"payload", 1, 1024).as("payload_head"))
      .select($"media_id", $"width", $"height", $"new_width", $"new_height",
        length($"payload_head").cast("long").as("head_len"))
      .orderBy("media_id")
  }

  /** Frame sampling: split a "video" payload into fixed-size frame
    * chunks and keep every k-th — the batch-shape pattern for
    * video-to-image fan-out (explode multiplies rows, payload bytes
    * stay partition-local until the explode).
    */
  def mmFrameSample(s: SparkSession, dir: String, frameBytes: Int = 256, every: Int = 4): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter($"kind" === "video")
      .select($"media_id", length($"payload").cast("long").as("blen"), $"payload")
      .select($"media_id", $"blen",
        explode(sequence(lit(0),
          greatest((($"blen" - 1) / frameBytes).cast("int"), lit(0)))).as("frame_no"))
      .filter($"frame_no" % every === 0)
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_sampled_frames"),
        max($"frame_no").cast("long").as("last_frame"))
      .orderBy("media_id")
  }

  val AudioWindowBytes = 64
  val AudioHopBytes = 32

  /** STFT-style framing over audio payloads: overlapping byte windows
    * (64-byte window, 32-byte hop), per-window energy = sum of unsigned
    * byte values — integer arithmetic end to end, so unlike a real FFT
    * the whole framing+feature stage is hash-oracle-checkable. The
    * kernel shape is the real one (per-partition streamed pass over
    * payload bytes, one output row per media item); a production build
    * swaps the energy loop for the DSP call. Payloads shorter than one
    * window emit nothing (matching the oracle's empty range).
    */
  def mmAudioWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = AudioWindowBytes
    val H = AudioHopBytes
    mediaTable(s, dir)
      .filter($"kind" === "audio")
      .select($"media_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = bytes.length
          if (n < W) Iterator.empty
          else {
            val nw = (n - W) / H + 1
            var total = 0L
            var peak = Long.MinValue
            var peakW = -1L
            var w = 0
            while (w < nw) {
              var e = 0L
              var i = w * H
              val end = i + W
              while (i < end) { e += (bytes(i) & 0xff).toLong; i += 1 }
              total += e
              if (e > peak) { peak = e; peakW = w.toLong }
              w += 1
            }
            Iterator.single((id, nw.toLong, total, peak, peakW))
          }
        }
      }
      .toDF("media_id", "n_windows", "total_energy", "peak_energy", "peak_window")
      .orderBy("media_id")
  }

  // ---- perceptual-hash near-dup over binary payloads ----

  val PhashWindow = 8 // bytes per payload shingle
  val PhashStride = 4 // shingle stride (window/2 overlap)
  val PhashBands = 4 // 4 × 16-bit bands — exact at hamming ≤ 3
  val PhashMaxHamming = 3

  /** 64-bit perceptual signature per payload: majority vote over the
    * md5-nibble feature bits of the payload's byte 8-gram shingles
    * (stride 4) — the byte-stream analog of the portable document
    * simhash ([[Dedup.simhashPortableSigs]]). Unlike a cryptographic
    * digest, a small payload edit flips only the bits whose vote margin
    * was thin, so near-identical media land at small hamming distance —
    * the property a real pHash gets from DCT coefficients. A production
    * build swaps the byte shingles for decoded-domain features (DCT
    * blocks, chroma histograms); the signature/banding/verify plumbing
    * is codec-independent and is what's tested here.
    *
    * One narrow typed pass per row (one MessageDigest per partition, no
    * shuffle); signature rendered as 16 hex chars, char i = signature
    * bits 4i..4i+3 (LSB nibble first) — the [[Dedup]] hex convention,
    * chosen because both engines can recompute it from md5 strings.
    */
  def phashSigsOf(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    val W = PhashWindow
    val S = PhashStride
    media.select($"media_id", $"kind", $"payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, kind, bytes) =>
          val votes = new Array[Int](64)
          val seen = new java.util.HashSet[String]()
          var off = 0
          while (off + W <= bytes.length) {
            // dedupe windows on their byte CONTENT (ISO-8859-1 is a
            // bijective byte↔char map, so the key is exactly the bytes)
            val key = new String(bytes, off, W, java.nio.charset.StandardCharsets.ISO_8859_1)
            if (seen.add(key)) {
              val d = md.digest(java.util.Arrays.copyOfRange(bytes, off, off + W))
              var j = 0
              while (j < 64) {
                // nibble j/4 of the hex rendering; high nibble of each
                // byte prints first, so nibble i lives in d(i/2)
                val ni = j >> 2
                val nib = if ((ni & 1) == 0) (d(ni >> 1) >> 4) & 0xf else d(ni >> 1) & 0xf
                if (((nib >> (j & 3)) & 1) == 1) votes(j) += 1 else votes(j) -= 1
                j += 1
              }
            }
            off += S
          }
          val cs = new Array[Char](16)
          var ni = 0
          while (ni < 16) {
            var nib = 0
            var r = 0
            while (r < 4) {
              if (votes(ni * 4 + r) > 0) nib |= (1 << r)
              r += 1
            }
            cs(ni) = "0123456789abcdef".charAt(nib)
            ni += 1
          }
          (id, kind, new String(cs))
        }
      }
      .toDF("media_id", "kind", "phash_hex")
  }

  /** Perceptual-hash near-dup pairs, same kind only, hamming ≤ 3.
    *
    * Banded candidate join (4 × 4-hex-char bands — EXACT at hamming ≤ 3
    * by pigeonhole: 3 flipped bits touch ≤ 3 of the 4 bands, so one
    * band always survives intact), then a per-pair nibble-xor popcount
    * verify. Band rows carry (kind, band, 4 chars, id, 16-char sig) —
    * never the payload — so the shuffle is a few dozen bytes per row at
    * any corpus size, and a pathological all-same-payload corpus is
    * bounded by the same-band bucket like the simhash plan.
    */
  def mmPhashDedup(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashSigsOf(mediaTable(s, dir)))

  def phashPairs(sigs: DataFrame, maxHamming: Int = PhashMaxHamming): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val bands = sigs.select($"media_id", $"kind", $"phash_hex",
        explode(array((0 until PhashBands).map(b =>
          struct(lit(b).as("band"),
            substring($"phash_hex", b * 4 + 1, 4).as("bs"))): _*)).as("bk"))
      .select($"media_id", $"kind", $"phash_hex", $"bk.band", $"bk.bs")
    bands.as("x").join(bands.as("y"),
        col("x.kind") === col("y.kind") && col("x.band") === col("y.band") &&
          col("x.bs") === col("y.bs") && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.kind").as("kind"),
        col("x.phash_hex").as("ha"), col("y.phash_hex").as("hb"))
      .distinct()
      .as[(Long, Long, String, String, String)]
      .map { case (a, b, kind, ha, hb) =>
        var hamming = 0
        var i = 0
        while (i < 16) {
          hamming += java.lang.Integer.bitCount(
            Character.digit(ha.charAt(i), 16) ^ Character.digit(hb.charAt(i), 16))
          i += 1
        }
        (a, b, kind, hamming.toLong)
      }
      .toDF("a", "b", "kind", "hamming")
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** ViT patch edge (pixels per square patch). */
  val PatchSize = 64

  /** ViT-style patch grid over decoded image geometry — the fan-out a
    * vision pipeline runs between decode and the encoder: per image,
    * one row per (px, py) patch with edge-clamped sizes. The explode
    * multiplies METADATA rows (media_id + six ints), never payload
    * bytes — the same byte-locality rule as frame sampling — and the
    * patch count is ceil(w/P)·ceil(h/P), bounded by the decoded dims.
    * Pure integer geometry (DIV/least), so the whole fan-out is
    * hash-exact against the oracle's range() replay.
    */
  def mmPatches(s: SparkSession, dir: String, patch: Int = PatchSize): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).as[MediaRecord]
    decodeFeatures(media, partitions = 32).toDF()
      .filter($"kind" === "image")
      .select($"media_id", $"width".cast("long").as("width"),
        $"height".cast("long").as("height"))
      .withColumn("px",
        explode(sequence(lit(0L), expr(s"(width + ${patch - 1}) DIV $patch") - 1L)))
      .withColumn("py",
        explode(sequence(lit(0L), expr(s"(height + ${patch - 1}) DIV $patch") - 1L)))
      .select($"media_id", $"width", $"height", $"px", $"py",
        ($"px" * patch).as("x0"), ($"py" * patch).as("y0"),
        least(lit(patch.toLong), $"width" - $"px" * patch).as("pw"),
        least(lit(patch.toLong), $"height" - $"py" * patch).as("ph"))
      .orderBy("media_id", "px", "py")
  }

  val SceneFrameBytes = 64
  val SceneCutThreshold = 200L

  /** Scene-change detection over "video" payloads: the frame-difference
    * thresholding every shot-boundary detector starts from, on the
    * byte-energy feature (integer sum of unsigned frame bytes — the
    * [[mmAudioWindows]] trick that keeps the whole stage hash-exact
    * cross-engine; a production build swaps energy for a perceptual
    * frame feature, the kernel shape is identical). A cut fires where
    * consecutive full frames differ by ≥ [[SceneCutThreshold]];
    * first_cut_frame is −1 when a clip has no cut.
    *
    * 100 TB shape: one streamed pass per payload inside mapPartitions
    * (no per-frame row fan-out at all — frames never leave the kernel),
    * output is one row per media item.
    */
  def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = SceneFrameBytes
    val T = SceneCutThreshold
    mediaTable(s, dir).filter($"kind" === "video")
      .select($"media_id", $"payload").as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val n = bytes.length / W
        var cuts = 0L
        var total = 0L
        var first = -1L
        var prev = 0L
        var f = 0
        while (f < n) {
          var e = 0L
          var i = f * W
          val end = i + W
          while (i < end) { e += (bytes(i) & 0xff); i += 1 }
          if (f > 0) {
            val d = math.abs(e - prev)
            total += d
            if (d >= T) { cuts += 1; if (first < 0) first = f.toLong }
          }
          prev = e
          f += 1
        }
        (id, n.toLong, cuts, total, first)
      }
      .toDF("media_id", "n_frames", "n_cuts", "total_absdiff",
        "first_cut_frame")
      .filter($"n_frames" >= 1)
      .withColumn("n_scenes", $"n_cuts" + 1L)
      .select($"media_id", $"n_frames", $"n_cuts", $"n_scenes",
        $"total_absdiff", $"first_cut_frame")
      .orderBy("media_id")
  }

  /** Resolution tiers for [[mmBatchShapes]]: square-pixel budgets from
    * 128² to 1024² (the synthetic dims top out at 575², so the last
    * tier doubles as the overflow bucket).
    */
  val ShapeTiers: Seq[Long] = Seq(16384L, 65536L, 262144L, 1048576L)

  /** Vision-batching shape report — the image/video sibling of
    * `pack_bucket_waste`: visual media batch by SHAPE, so the planner
    * needs, per (orientation, resolution tier): media count, real
    * pixels, and the pad-pixels a tier-sized canvas would waste.
    * Orientation from integer width/height comparison; tier = smallest
    * square budget ≥ the pixel count. Metadata-only: the payload bytes
    * never move, exactly like [[mmStats]]. All-integer ⇒ hash-exact.
    */
  def mmBatchShapes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = mmDecode(s, dir)
      .filter($"kind" =!= "audio")
      .select($"media_id", $"width", $"height",
        ($"width" * $"height").as("px"))
    val tier = ShapeTiers.init.reverse
      .foldLeft(lit(ShapeTiers.last)) { (acc, t) =>
        when($"px" <= t, lit(t)).otherwise(acc)
      }
    val shape = when($"width" > $"height", "wide")
      .when($"height" > $"width", "tall").otherwise("square")
    d.select(shape.as("shape"), tier.as("tier"), $"px")
      .groupBy($"shape", $"tier")
      .agg(count(lit(1)).as("n_media"), sum($"px").as("total_px"))
      .select($"shape", $"tier", $"n_media", $"total_px",
        ($"tier" * $"n_media" - $"total_px").as("pad_px"))
      .orderBy($"shape", $"tier")
  }

  /** Image-placeholder token cost in [[mmInterleave]] — the context
    * budget one image embedding occupies in an interleaved sequence
    * (a fixed per-image patch budget, the Flamingo/MMC4 convention).
    */
  val InterleaveImgTok = 64L

  /** Interleaved image-text sequence layout — the MMC4/OBELICS packing
    * shape for multimodal LM training: media docs stream in doc_id
    * order, an image-kind doc contributes one [[InterleaveImgTok]]-token
    * image placeholder at its start followed by its caption/body text,
    * and fixed [[Packing.SeqLen]]-token training windows are cut across
    * doc boundaries. Per window the loader needs exactly this row:
    * how many docs overlap it, how many image slots START in it (=
    * image embeddings to fetch), and its image-token vs text-token
    * split (placeholders pay context but no text loss).
    *
    * 100 TB shape: the global offset is [[Packing.packSequencesOf]]'s
    * [[Scale.runningSum]] (never an unpartitioned window);
    * the split arithmetic is codegen'd integer min/max on the span
    * rows; one seq_id aggregation ends the plan. All-integer ⇒
    * hash-exact.
    */
  def mmInterleave(s: SparkSession, dir: String, partitions: Int = 32): DataFrame = {
    import s.implicits._
    val eff = t(s, dir, "documents")
      .select($"doc_id",
        when($"doc_id" % 3 === 0, lit(InterleaveImgTok)).otherwise(lit(0L))
          .as("it"),
        TextAnalysis.tokenCount($"text").as("nt"))
      .select($"doc_id", $"it", ($"it" + $"nt").as("eff"))
      .filter($"eff" > 0L)
      .gatedCheckpoint() // feeds the running sum AND the span join
    val spans = Packing.packSequencesOf(
      eff.select($"doc_id", $"eff").as[(Long, Long)], Packing.SeqLen, partitions)
    spans.join(eff.select($"doc_id", $"it"), "doc_id")
      // span [tok_from, tok_to) on the doc's LOCAL axis; images occupy
      // the [0, it) prefix, so the image share is an integer clamp
      .select($"seq_id", $"it", $"tok_from", $"tok_to",
        greatest(lit(0L), least($"tok_to", $"it") - $"tok_from").as("img_here"))
      .groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"it" > 0L && $"tok_from" === 0L, 1L).otherwise(0L))
          .as("n_images"),
        sum($"img_here").as("n_image_tokens"),
        sum(($"tok_to" - $"tok_from") - $"img_here").as("n_text_tokens"))
      .orderBy("seq_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_interleave" -> ((s, d) => mmInterleave(s, d)),
    "mm_batch_shapes" -> ((s, d) => mmBatchShapes(s, d)),
    "mm_scene_cuts" -> mmSceneCuts,
    "mm_stats" -> mmStats,
    "mm_decode" -> ((s, d) => mmDecode(s, d)),
    "mm_resize" -> ((s, d) => mmResize(s, d)),
    "mm_frame_sample" -> ((s, d) => mmFrameSample(s, d)),
    "mm_audio_windows" -> mmAudioWindows,
    "mm_patches" -> ((s, d) => mmPatches(s, d)),
    "mm_phash_dedup" -> mmPhashDedup)

  /** kind expression shared by the oracles (media_id % 3 → image/audio/
    * video; DuckDB lists are 1-based like element_at).
    */
  private val kindSql =
    "(['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]"

  /** DuckDB mirror of the stub codec's md5-nibble math. md5(text) in
    * DuckDB hashes the UTF-8 bytes — exactly the payload bytes — and
    * `CAST(n AS REAL)/CAST(15 AS REAL)` is the same IEEE single
    * division the JVM performs, so feature_sum is bit-identical when
    * added in the same left-to-right order.
    */
  private def nibSql(i: Int) =
    s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1)"
  private val featureSumSql = (0 until 8)
    .map(i => s"CAST(CAST(${nibSql(i)} AS REAL) / CAST(15 AS REAL) AS DOUBLE)")
    .reduce((a, b) => s"($a + $b)")
  private val hvSql = (0 until 7).map(nibSql).reduce((a, b) => s"($a * 16 + $b)")
  private val decodedCte = s"""
    d AS (
      SELECT doc_id AS media_id, $kindSql AS kind,
        CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        md5(text) AS hx
      FROM documents),
    geom AS (
      SELECT media_id, kind, byte_len, hx, $hvSql AS hv
      FROM d)"""

  /** DuckDB mirror of [[phashSigsOf]]: payload byte 8-grams at stride 4
    * are substrings of the (ASCII) document text, md5-nibble feature
    * bits are majority-voted per signature bit, and the hex rendering
    * follows the same LSB-nibble-first convention. Pairs are the
    * all-pairs truth (no banding) — the banded Spark plan must
    * reproduce it exactly at hamming ≤ 3. Scope: every corpus doc has
    * ≥ 1 window (min payload 48 bytes); sub-window payloads are
    * spec-covered, not oracle-covered.
    */
  private val phashSigCte = s"""
    w AS (
      SELECT doc_id, unnest(list_distinct(
        [substr(text, i*$PhashStride+1, $PhashWindow)
         for i in range(0, CAST(floor((len(text)-$PhashWindow)/$PhashStride.0) AS BIGINT) + 1)])) AS sh
      FROM documents WHERE len(text) >= $PhashWindow),
    hx AS (SELECT doc_id, md5(sh) AS h FROM w),
    bits AS (
      SELECT doc_id, bb.b AS b,
        ((strpos('0123456789abcdef', substr(h, CAST(bb.b // 4 AS INT) + 1, 1)) - 1)
          >> CAST(bb.b % 4 AS INT)) & 1 AS bit
      FROM hx CROSS JOIN (SELECT unnest(range(64)) AS b) bb),
    votes AS (
      SELECT doc_id, b, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY doc_id, b),
    nibs AS (
      SELECT doc_id, b // 4 AS ni,
        SUM(CASE WHEN v > 0 THEN (1 << CAST(b % 4 AS INT)) ELSE 0 END) AS nib
      FROM votes GROUP BY doc_id, b // 4),
    sigs AS (
      SELECT doc_id,
        string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1), '' ORDER BY ni) AS hex
      FROM nibs GROUP BY doc_id)"""

  val oracles: Map[String, String] = Map(
    "mm_interleave" -> s"""
      WITH toks AS (
        SELECT doc_id,
          CAST(CASE WHEN doc_id % 3 = 0 THEN $InterleaveImgTok ELSE 0 END AS BIGINT) AS it,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS nt
        FROM documents),
      eff AS (
        SELECT doc_id, it, it + nt AS eff FROM toks WHERE it + nt > 0),
      cum AS (
        SELECT doc_id, it, eff,
          CAST(SUM(eff) OVER (ORDER BY doc_id) - eff AS BIGINT) AS strt
        FROM eff),
      spans AS (
        SELECT doc_id, it, eff, strt,
          unnest(range(strt // ${Packing.SeqLen},
            (strt + eff - 1) // ${Packing.SeqLen} + 1)) AS seq_id
        FROM cum),
      sl AS (
        SELECT seq_id, it,
          CAST(GREATEST(0, seq_id * ${Packing.SeqLen} - strt) AS BIGINT) AS lo,
          CAST(LEAST(eff, (seq_id + 1) * ${Packing.SeqLen} - strt) AS BIGINT) AS hi
        FROM spans)
      SELECT CAST(seq_id AS BIGINT) AS seq_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN it > 0 AND lo = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
        CAST(SUM(GREATEST(0, LEAST(hi, it) - lo)) AS BIGINT) AS n_image_tokens,
        CAST(SUM((hi - lo) - GREATEST(0, LEAST(hi, it) - lo)) AS BIGINT) AS n_text_tokens
      FROM sl GROUP BY seq_id ORDER BY seq_id""",
    // text is ASCII so ord(char) == payload byte (the mm_audio_windows
    // equivalence); frames are consecutive full 64-byte windows
    "mm_scene_cuts" -> s"""
      WITH vids AS (
        SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
      b AS (
        SELECT media_id,
          [ord(substr(text, i, 1)) for i in range(1, len(text) + 1)] AS bv
        FROM vids),
      fr AS (
        SELECT media_id, u.f AS f,
          CAST(list_sum(bv[(u.f * $SceneFrameBytes + 1):
            ((u.f + 1) * $SceneFrameBytes)]) AS BIGINT) AS e
        FROM b, UNNEST(range(0, len(bv) // $SceneFrameBytes)) AS u(f)
        WHERE len(bv) >= $SceneFrameBytes),
      d AS (
        SELECT media_id, f, e,
          abs(e - lag(e) OVER (PARTITION BY media_id ORDER BY f)) AS ad
        FROM fr)
      SELECT media_id,
        CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN ad >= $SceneCutThreshold THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cuts,
        CAST(SUM(CASE WHEN ad >= $SceneCutThreshold THEN 1 ELSE 0 END) + 1
          AS BIGINT) AS n_scenes,
        CAST(COALESCE(SUM(ad), 0) AS BIGINT) AS total_absdiff,
        CAST(COALESCE(MIN(CASE WHEN ad >= $SceneCutThreshold THEN f END), -1)
          AS BIGINT) AS first_cut_frame
      FROM d GROUP BY media_id ORDER BY media_id""",
    "mm_patches" -> s"""
      WITH $decodedCte,
      img AS (
        SELECT media_id,
          CAST(64 + hv % 512 AS BIGINT) AS width,
          CAST(64 + (hv // 512) % 512 AS BIGINT) AS height
        FROM geom WHERE kind = 'image'),
      gx AS (
        SELECT media_id, width, height,
          unnest(range((width + $PatchSize - 1) // $PatchSize)) AS px
        FROM img),
      g AS (
        SELECT media_id, width, height, px,
          unnest(range((height + $PatchSize - 1) // $PatchSize)) AS py
        FROM gx)
      SELECT media_id, width, height,
        CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
        CAST(px * $PatchSize AS BIGINT) AS x0,
        CAST(py * $PatchSize AS BIGINT) AS y0,
        CAST(LEAST($PatchSize, width - px * $PatchSize) AS BIGINT) AS pw,
        CAST(LEAST($PatchSize, height - py * $PatchSize) AS BIGINT) AS ph
      FROM g ORDER BY media_id, px, py""",
    "mm_phash_dedup" -> s"""
      WITH $phashSigCte,
      m AS (
        SELECT s.doc_id AS media_id, $kindSql AS kind, s.hex
        FROM sigs s JOIN documents USING (doc_id)),
      p AS (
        SELECT x.media_id AS a, y.media_id AS b, x.kind AS kind,
          CAST(list_sum(
            [bit_count(xor(strpos('0123456789abcdef', substr(x.hex, i, 1)) - 1,
                           strpos('0123456789abcdef', substr(y.hex, i, 1)) - 1))
             for i in range(1, 17)]) AS BIGINT) AS hamming
        FROM m x JOIN m y
          ON x.media_id < y.media_id AND x.kind = y.kind)
      SELECT a, b, kind, hamming FROM p
      WHERE hamming <= $PhashMaxHamming
      ORDER BY a, b""",
    // documents text is ASCII, so ord(char) == UTF-8 byte value and the
    // oracle can frame the TEXT where the kernel frames payload BYTES
    "mm_audio_windows" -> s"""
      WITH audio AS (
        SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1),
      b AS (
        SELECT media_id, [ord(substr(text, i, 1)) for i in range(1, len(text)+1)] AS bv
        FROM audio),
      wins AS (
        SELECT media_id, u.w AS w,
          CAST(list_sum(bv[(u.w*$AudioHopBytes+1):(u.w*$AudioHopBytes+$AudioWindowBytes)]) AS BIGINT) AS energy
        FROM b, UNNEST(range(0,
          CAST(floor((len(bv)-$AudioWindowBytes)/$AudioHopBytes.0) AS BIGINT) + 1)) AS u(w)
        WHERE len(bv) >= $AudioWindowBytes),
      ranked AS (
        SELECT media_id, w, energy,
          ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY energy DESC, w ASC) AS rk
        FROM wins)
      SELECT media_id,
        count(*) AS n_windows,
        CAST(sum(energy) AS BIGINT) AS total_energy,
        CAST(max(energy) AS BIGINT) AS peak_energy,
        CAST(min(CASE WHEN rk = 1 THEN w END) AS BIGINT) AS peak_window
      FROM ranked GROUP BY media_id ORDER BY media_id""",
    "mm_decode" -> s"""
      WITH $decodedCte
      SELECT media_id, kind, byte_len,
        CAST(CASE WHEN kind = 'audio' THEN 0 ELSE 64 + hv % 512 END AS BIGINT) AS width,
        CAST(CASE WHEN kind = 'audio' THEN 0 ELSE 64 + (hv // 512) % 512 END AS BIGINT) AS height,
        CAST(CASE WHEN kind = 'audio' THEN 2 ELSE 3 END AS BIGINT) AS channels,
        CAST(CASE kind WHEN 'image' THEN 0
                       WHEN 'audio' THEN 1 + byte_len // 4
                       ELSE 1 + byte_len // 100 END AS BIGINT) AS duration_ms,
        $featureSumSql AS feature_sum
      FROM geom ORDER BY media_id""",
    "mm_batch_shapes" -> s"""
      WITH $decodedCte,
      dims AS (
        SELECT media_id,
          CAST(64 + hv % 512 AS BIGINT) AS w,
          CAST(64 + (hv // 512) % 512 AS BIGINT) AS h
        FROM geom WHERE kind <> 'audio'),
      px AS (
        SELECT media_id,
          CASE WHEN w > h THEN 'wide' WHEN h > w THEN 'tall'
               ELSE 'square' END AS shape,
          CASE ${Multimodal.ShapeTiers.init
            .map(t => s"WHEN w * h <= $t THEN $t").mkString(" ")}
            ELSE ${Multimodal.ShapeTiers.last} END AS tier,
          w * h AS p
        FROM dims),
      agg AS (
        SELECT shape, CAST(tier AS BIGINT) AS tier,
          CAST(COUNT(*) AS BIGINT) AS n_media,
          CAST(SUM(p) AS BIGINT) AS total_px
        FROM px GROUP BY shape, tier)
      SELECT shape, tier, n_media, total_px,
        tier * n_media - total_px AS pad_px
      FROM agg ORDER BY shape, tier""",
    "mm_resize" -> s"""
      WITH $decodedCte,
      dims AS (
        SELECT media_id, byte_len,
          CASE WHEN kind = 'audio' THEN 0 ELSE 64 + hv % 512 END AS w,
          CASE WHEN kind = 'audio' THEN 0 ELSE 64 + (hv // 512) % 512 END AS h
        FROM geom)
      SELECT media_id,
        CAST(w AS BIGINT) AS width,
        CAST(h AS BIGINT) AS height,
        CAST(LEAST(w, 128) AS BIGINT) AS new_width,
        CAST(LEAST(h, 128) AS BIGINT) AS new_height,
        LEAST(byte_len, 1024) AS head_len
      FROM dims ORDER BY media_id""",
    "mm_stats" -> s"""
      SELECT $kindSql AS kind,
        COUNT(*) AS n_files,
        CAST(SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
        MIN(CAST(octet_length(encode(text)) AS BIGINT)) AS min_bytes,
        MAX(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
      FROM documents
      GROUP BY 1 ORDER BY 1""",
    "mm_frame_sample" -> s"""
      WITH v AS (
        SELECT doc_id AS media_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS blen
        FROM documents
        WHERE $kindSql = 'video'),
      frames AS (
        SELECT media_id, unnest(range(0, GREATEST(CAST((blen - 1) / 256 AS INT), 0) + 1)) AS frame_no
        FROM v)
      SELECT media_id,
        COUNT(*) AS n_sampled_frames,
        MAX(frame_no) AS last_frame
      FROM frames
      WHERE frame_no % 4 = 0
      GROUP BY media_id
      ORDER BY media_id""")
}
