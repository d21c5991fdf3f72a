package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One opaque media item: binary payload + typed metadata. */
case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

/** REAL decode output of the RLE-compressed bitmap format planted by
  * [[MultimodalOps.plantRle]]: dimensions, run/compression metadata, and
  * per-channel means — every value computed only by actually decompressing
  * the run-length stream (see [[MultimodalOps.decodeFeatures]]).
  */
case class MediaFeatures(
    media_id: Long, kind: String, width: Long, height: Long,
    n_px: Long, n_runs: Long, comp_bytes: Long, ratio_bp: Long,
    r_mean: Long, g_mean: Long, b_mean: Long)

/** One content-defined chunk of a binary payload ([[MultimodalOps.cdcChunks]]):
  * byte range [start, start+len) and its content hash.
  */
case class MediaChunk(media_id: Long, chunk_idx: Long, start: Long, len: Long, chunk_md5: String)

/** REAL perceptual-hash decode output of [[MultimodalOps.phashBands]]: the
  * `grid`-cell average-hash of the planted bitmap, emitted as `grid` band
  * bytes (band k holds bits k*grid .. k*grid+grid-1) so Hamming-LSH banding
  * downstream is an index into this array, never bit surgery on an int64.
  */
case class MediaPhash(media_id: Long, kind: String, bands: Seq[Long])

/** REAL decode output of the uncompressed-bitmap format planted by
  * [[MultimodalOps.plantPixels]]: per-channel mean (integer floor) and
  * extremes over the raw interleaved-RGB pixel block — every value parsed
  * back out of the payload bytes (see [[MultimodalOps.decodePixels]]).
  */
case class MediaPixels(
    media_id: Long, kind: String, width: Long, height: Long, n_px: Long,
    r_mean: Long, g_mean: Long, b_mean: Long,
    r_min: Long, r_max: Long, g_min: Long, g_max: Long, b_min: Long, b_max: Long)

/** Multimodal columns: image/audio/video payloads carried as opaque `binary`
  * columns with typed metadata — the storage shape a 100 TB multimodal
  * training-data pipeline uses (media bytes inline in parquet or as
  * references; either way the engine sees `binary`).
  *
  * The test tables carry no real media, so [[asMedia]] derives a
  * deterministic binary corpus from `documents` (UTF-8 payloads) that the
  * DuckDB oracle reconstructs identically; every operator below treats the
  * payload as opaque bytes, exactly as it would JPEG/FLAC frames.
  *
  * Decoding: no image/audio codecs exist in this container, so the decode
  * surface covers both halves of a real codec with formats whose bytes are
  * genuinely parsed. Both share one container layout:
  *
  * {{{
  * bytes 0-3    magic: "GRFT" (raw bitmap) or "GRFZ" (run-length bitmap)
  * bytes 4-7    width w >= 1, big-endian unsigned int32
  * bytes 8-11   height h >= 1, big-endian unsigned int32
  * bytes 12-    GRFT: the w*h*3 interleaved RGB bytes, row-major
  *              GRFZ: (count, value) byte pairs, at least one, whose runs
  *              expand to those w*h*3 bytes
  * }}}
  *
  * [[header]] is the one reader of that layout and [[grfPayload]] (with
  * [[planted]]'s dims rule) the one writer. A payload the reader rejects
  * takes the dead-letter path: it is dropped from the decoder's output,
  * never a task failure. [[decodePixels]], [[resizePixels]] and
  * [[phashBands]] decode GRFT ([[plantPixels]], [[plantPhashCorpus]]);
  * [[decodeFeatures]] decompresses GRFZ ([[plantRle]]). Each decoder is a
  * typed `Dataset[MediaRow]` flatMap, one MapPartitions batch stage (the
  * Scala analog of `mapInPandas`), executor-parallel with no driver
  * involvement. Nothing is stubbed: corrupt one payload byte and the
  * output moves (spec-pinned for every decoder).
  */
object MultimodalOps {

  private val Grft = Array[Byte](0x47, 0x52, 0x46, 0x54) // "GRFT"
  private val Grfz = Array[Byte](0x47, 0x52, 0x46, 0x5a) // "GRFZ"

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** The container reader (layout in the [[MultimodalOps]] scaladoc):
    * `(w, h)` iff `b` starts with `magic`, both dims are ≥ 1 and the body
    * has the format's length — exactly w·h·3 bytes for GRFT, at least one
    * pair for GRFZ; None is the dead-letter path.
    */
  private def header(b: Array[Byte], magic: Array[Byte]): Option[(Long, Long)] =
    if (b.length < 12 || !b.startsWith(magic)) None
    else {
      val (w, h) = (be32(b, 4), be32(b, 8))
      val body = b.length - 12L
      val sized = if (magic eq Grfz) body >= 2 else body == w * h * 3
      Option.when(w >= 1 && h >= 1 && sized)((w, h))
    }

  /** Nearest-neighbour sample of a w × h GRFT image at `outW` × `outH`:
    * the body offset of each output pixel's source, row-major. Output
    * (x, y) reads source `(x·w div outW, y·h div outH)` — integer index
    * arithmetic the oracles replay exactly.
    */
  private def nearest(w: Long, h: Long, outW: Int, outH: Int): Array[Int] =
    Array.tabulate(outW * outH) { j =>
      val (sx, sy) = (j % outW * w / outW, j / outW * h / outH)
      12 + ((sy * w + sx) * 3).toInt
    }

  /** Two-digit lowercase hex of a byte-valued column. */
  private def hexByte(v: Column): Column = lpad(lower(hex(v)), 2, "0")

  /** Header hex: a 4-byte magic, then `w` and `h` as big-endian int32s. */
  private def headerHex(magicHex: String, w: Column, h: Column): Seq[Column] =
    Seq(lit(magicHex), lpad(lower(hex(w)), 8, "0"), lpad(lower(hex(h)), 8, "0"))

  /** A planted GRFT/GRFZ payload: header + `bodyHex`, as binary. */
  private def grfPayload(magic: Array[Byte], w: Column, h: Column, bodyHex: Column): Column =
    to_binary(concat(headerHex(magic.map("%02x".format(_)).mkString, w, h) :+ bodyHex: _*),
      lit("hex")).as("payload")

  /** The planted dims rule of every GRFT/GRFZ plant, from the key `k`
    * (media id, or group for the phash corpus): w ∈ [2,10], h ∈ [2,8] —
    * the format, not the byte volume, is what is under test.
    */
  private def planted(k: Column): (Column, Column) =
    (pmod(k * 3 + 2, lit(9)) + 2, pmod(k * 5 + 1, lit(7)) + 2)

  /** The hex of a raw w·h·3-byte GRFT body whose byte i is `px(i) mod 256`. */
  private def rawBodyHex(w: Column, h: Column)(px: Column => Column): Column =
    array_join(transform(sequence(lit(0L), w * h * 3 - 1), i => hexByte(pmod(px(i), lit(256)))), "")

  /** Derive the media table: payload = UTF-8 bytes of `text`, kind assigned
    * round-robin (image/audio/video) by id. Deterministic on both engines.
    */
  def asMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      when(pmod(col(idCol), lit(3)) === 0, "image")
        .when(pmod(col(idCol), lit(3)) === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Metadata extraction: byte length, content fingerprint, magic prefix —
    * the header sniff a real pipeline runs before decoding anything.
    */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("fp_md5"),
      lower(hex(substring(col("payload"), 1, 4))).as("magic"))
      .orderBy(col("media_id"))

  /** Frame sampling: `frames` evenly-spaced single bytes from the payload
    * (the video-frame / audio-window sampling shape), emitted as one hex
    * string. Items shorter than `frames` bytes are dropped — a real sampler
    * would route them to a short-payload path.
    */
  def frameSample(media: DataFrame, frames: Int = 8): DataFrame = {
    val len = length(col("payload"))
    val step = floor(len.cast("double") / frames).cast("int")
    val sampled = (0 until frames)
      .map(j => hex(col("payload").substr(lit(1) + lit(j) * step, lit(1))))
    media
      .filter(len >= frames)
      .select(
        col("media_id"), col("kind"),
        len.cast("long").as("n_bytes"),
        lower(concat(sampled: _*)).as("frame_hex"))
      .orderBy(col("media_id"))
  }

  /** Plant a PNG-style 12-byte header — 4 magic bytes + big-endian int32
    * width + int32 height, dims derived deterministically from the id — in
    * front of each payload. The planted corpus lets [[mediaDims]]
    * demonstrate REAL binary header arithmetic with no codec in the
    * container: the bytes genuinely carry the dimensions and genuinely get
    * parsed back out.
    */
  def plantDims(media: DataFrame): DataFrame = {
    val w = pmod(col("media_id") * 37 + 64, lit(4096)) + 1
    val h = pmod(col("media_id") * 53 + 48, lit(2160)) + 1
    media.select(
      col("media_id"), col("kind"),
      concat(to_binary(concat(headerHex("89504e47", w, h): _*), lit("hex")),
        col("payload")).as("payload"))
  }

  /** Dimension extraction from the binary header — the typed-metadata step
    * every image pipeline runs BEFORE any decode (resolution filtering,
    * aspect bucketing, resize planning read header fields, not pixels).
    * Pure byte arithmetic: slice the binary, hex it, parse base-16 — all
    * codegen'd built-ins, executable on 100 TB of payloads without
    * touching a codec. Works on [[plantDims]] output here; on real PNGs
    * the offsets would target the IHDR chunk the same way.
    */
  def mediaDims(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      conv(hex(substring(col("payload"), 5, 4)), 16, 10).cast("long").as("width"),
      conv(hex(substring(col("payload"), 9, 4)), 16, 10).cast("long").as("height"),
      (length(col("payload")) - 12).cast("long").as("body_bytes"))
      .orderBy(col("media_id"))

  /** Plant a complete uncompressed GRFT bitmap (the PPM/BMP shape) in place
    * of each payload, dims by [[planted]] from the id. Pixel byte i is
    * `(media_id*31 + i*7) % 256`, channel `i % 3`, so the DuckDB oracle can
    * compute ground-truth channel statistics from the same generative
    * formula while the Spark side genuinely parses them back out of the
    * binary.
    */
  def plantPixels(media: DataFrame): DataFrame = {
    val (w, h) = planted(col("media_id"))
    media.select(
      col("media_id"), col("kind"),
      grfPayload(Grft, w, h, rawBodyHex(w, h)(i => col("media_id") * 31 + i * 7)))
  }

  /** The REAL decode of a GRFT bitmap (layout in the [[MultimodalOps]]
    * scaladoc; planted by [[plantPixels]]): the [[header]] check, then one
    * pass over the interleaved RGB block accumulating per-channel
    * sum/min/max. Every output value exists only in the binary.
    */
  def decodePixels(media: Dataset[MediaRow]): Dataset[MediaPixels] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val b = r.payload
      header(b, Grft).map { case (w, h) =>
        val nPx = w * h
        val sums = new Array[Long](3)
        val mins = Array(256L, 256L, 256L)
        val maxs = Array(-1L, -1L, -1L)
        var i = 0
        while (i < nPx * 3) {
          val v = (b(12 + i) & 0xff).toLong
          val ch = i % 3
          sums(ch) += v
          if (v < mins(ch)) mins(ch) = v
          if (v > maxs(ch)) maxs(ch) = v
          i += 1
        }
        MediaPixels(r.media_id, r.kind, w, h, nPx,
          sums(0) / nPx, sums(1) / nPx, sums(2) / nPx,
          mins(0), maxs(0), mins(1), maxs(1), mins(2), maxs(2))
      }
    }
  }

  /** DataFrame entry for the real bitmap decode path. */
  def mediaPixels(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    decodePixels(media.as[MediaRow]).toDF().orderBy(col("media_id"))
  }

  /** REAL resize of a GRFT bitmap (layout in the [[MultimodalOps]]
    * scaladoc): the [[header]] check, then the [[nearest]] sample at
    * `outW` x `outH` of the pixel block — the thumbnail/normalize step a
    * multimodal pipeline runs between decode and feature extraction. The
    * oracle mirrors the index arithmetic from the generative formula while
    * the Spark side only ever reads the binary. Emits the resized image's
    * per-channel means plus a checksum (sum of all sampled bytes) — an
    * exact fingerprint of the resized pixel matrix.
    *
    * Output: (media_id, kind, width, height, r_mean, g_mean, b_mean,
    * checksum), width/height = the OUTPUT dims.
    */
  def resizePixels(media: Dataset[MediaRow], outW: Int, outH: Int): DataFrame = {
    import media.sparkSession.implicits._
    val nPx = outW.toLong * outH
    media.flatMap { r =>
      val b = r.payload
      header(b, Grft).map { case (w, h) =>
        val sums = new Array[Long](3)
        for (o <- nearest(w, h, outW, outH); ch <- 0 until 3) sums(ch) += b(o + ch) & 0xff
        (r.media_id, r.kind, outW.toLong, outH.toLong,
          sums(0) / nPx, sums(1) / nPx, sums(2) / nPx, sums.sum)
      }
    }.toDF("media_id", "kind", "width", "height",
      "r_mean", "g_mean", "b_mean", "checksum")
      .orderBy(col("media_id"))
  }

  /** Plant an RLE-COMPRESSED GRFZ bitmap in place of each payload, dims by
    * [[planted]] from the id (the [[plantPixels]] family). The pixel
    * matrix is generated in runs so the compression is real: run length
    * `R = media_id % 5 + 3` (constant per item), run j's value is
    * `(media_id*31 + j*7) % 256`, so decompressed pixel byte i equals
    * `(media_id*31 + (i div R)*7) % 256` — a formula the DuckDB oracle
    * replays for ground truth while the Spark side only ever reads the
    * compressed binary.
    */
  def plantRle(media: DataFrame): DataFrame = {
    val (w, h) = planted(col("media_id"))
    val pairsHex = array_join(
      transform(sequence(lit(0L), col("k") - 1), j => concat(
        hexByte(least(col("r"), col("n") - j * col("r"))),
        hexByte(pmod(col("media_id") * 31 + j * 7, lit(256))))),
      "")
    media
      .withColumn("w", w)
      .withColumn("h", h)
      .withColumn("r", pmod(col("media_id"), lit(5)) + 3)
      .withColumn("n", col("w") * col("h") * 3)
      .withColumn("k", expr("(n + r - 1) div r"))
      .select(col("media_id"), col("kind"), grfPayload(Grfz, col("w"), col("h"), pairsHex))
  }

  /** The compressed-decode step — a REAL decompression loop, not a stub,
    * of a GRFZ bitmap (layout in the [[MultimodalOps]] scaladoc): the
    * [[header]] check plus GRFZ's own length-parity rule (whole pairs),
    * then a walk over the run-length stream expanding each (count, value)
    * pair into the interleaved RGB index space while accumulating
    * per-channel sums. The channel means exist ONLY in the
    * decompressed stream — corrupting one compressed value byte moves
    * them, corrupting a count byte breaks the expansion invariant and
    * dead-letters the row (both spec-pinned), as does a zero-count run or
    * runs that do not expand to exactly w·h·3 bytes. Also emits the
    * compression metadata a pipeline records at this step: run count,
    * compressed size, and compressed/raw ratio in bp.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val b = r.payload
      header(b, Grfz).filter(_ => (b.length - 12) % 2 == 0).flatMap { case (w, h) =>
        val nPx = w * h
        val n = nPx * 3
        // the decompression loop: expand each (count, value) pair into
        // the interleaved channel space; i is the decompressed index
        val sums = new Array[Long](3)
        var i = 0L
        var p = 12
        var ok = true
        while (ok && p < b.length) {
          val c = b(p) & 0xff
          val v = (b(p + 1) & 0xff).toLong
          if (c == 0 || i + c > n) ok = false
          else {
            var t = 0L
            while (t < c) {
              sums(((i + t) % 3).toInt) += v
              t += 1
            }
            i += c
          }
          p += 2
        }
        val comp = b.length.toLong
        Option.when(ok && i == n)(MediaFeatures(r.media_id, r.kind, w, h, nPx,
          (b.length - 12L) / 2, comp, comp * 10000L / (n + 12),
          sums(0) / nPx, sums(1) / nPx, sums(2) / nPx))
      }
    }
  }

  /** DataFrame entry for the typed decode path. */
  def mediaFeatures(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    decodeFeatures(media.as[MediaRow]).toDF().orderBy(col("media_id"))
  }

  /** Plant a perceptual-dedup corpus: groups of `groupSize` consecutive ids
    * share ONE base GRFT image (dims by [[planted]] and pixels derived from
    * `grp = media_id div groupSize`), with each in-group variant
    * brightness-shifted by `(media_id mod groupSize) * shiftStep` (mod 256,
    * so a few high pixels wrap — realistic clipping noise). Exact-hash
    * dedup ([[mediaMeta]]'s md5) sees every variant as unique; the
    * average-hash of [[phashBands]] is invariant to the constant shift
    * except at wrapped pixels, which is precisely the robustness a
    * perceptual hash exists to provide.
    *
    * Content ring (r17): a LINEAR byte ramp is determined entirely by its
    * (w, h, stride, phase-mod-256) tuple, so the plant's distinct-image
    * universe was the lcm of those tiny periods — ~1.1k images at ANY
    * corpus size (measured at every decade, SKEW r15/r16), which made the
    * capstone's ×100 leg a quadratic exact-dup re-attach wall and froze
    * the dense plant's regime past ×10. The ramp now adds a QUADRATIC
    * term `i²·s2` whose coefficient `s2 = hash60(grp) mod 256` is
    * pseudorandom per group (md5-derived — aperiodic in grp, unlike any
    * mod-arithmetic ring): the image space becomes
    * (w, h, stride, phase, s2) ≈ 9·7·strideMod·256·256 patterns assigned
    * hash-uniformly, so distinct content GROWS ≈ 1:1 with the group count
    * to ~10⁸ instead of saturating at 10³. The in-group invariance is
    * untouched — `shift` stays a constant offset, and aHash (bits vs
    * mean) is shift-invariant except at wraps, whatever the ramp shape.
    */
  def plantPhashCorpus(
      media: DataFrame,
      groupSize: Int = 4,
      shiftStep: Int = 9,
      strideMod: Int = 0): DataFrame = {
    val grp = expr(s"media_id div $groupSize")
    val shift = pmod(col("media_id"), lit(groupSize)) * shiftStep
    val (w, h) = planted(grp)
    // strideMod > 0 varies the pixel-ramp stride per group (7 + grp mod
    // strideMod) — the LINEAR-term entropy knob (kept for the decade
    // tools' corpus-scaled sweeps); the quadratic s2 term below is what
    // breaks the mod-arithmetic content ceiling
    val stride = if (strideMod > 0) pmod(grp, lit(strideMod)) + 7 else lit(7)
    // i ≤ 240 ⇒ i²·s2 ≤ 240²·255 < 2^24 — exact in longs on both engines
    val s2 = pmod(graft.functions.StableHash.hash60(grp.cast("string")), lit(256))
    media.select(
      col("media_id"), col("kind"),
      grfPayload(Grft, w, h, rawBodyHex(w, h)(i => grp * 31 + i * stride + i * i * s2 + shift)))
  }

  /** [[plantPhashCorpus]] at a density that crosses [[phashGridFor]]'s
    * grid-8 capacity at CORRECTNESS scale — the fixture that finally
    * EXECUTES the 16-flip under the oracle (r14 gap: the derived grid was
    * 8 at every fixture decade, so the grid-16 branch of both the
    * operator and the DuckDB CASE mirror was calibrated by measured rows
    * but never oracle-verified end to end). Every input id expands into
    * `repl` consecutive media ids (`id·repl + r`) BEFORE the group/shift
    * derivation — and, because the base formula's content SATURATES at
    * ~1.1k distinct hashes (the measured 1,099-at-every-decade wall: its
    * dim and ramp periods cap distinct images no matter the corpus), the
    * pixel-ramp stride varies per group (`strideMod` = 23). Measured at
    * 500 docs × 8 = 4,000 media rows: 3,055 distinct grid-8 hashes
    * > 8·2^8, so [[autoPhashGrid]] derives 16 and the pairing runs the
    * 16×16 aHash + 16-band LSH path.
    *
    * `baseCap` BOUNDS the expansion base to the lowest ids (r16): the
    * fixture is a GRID CALIBRATION — 500 base ids × 8 = 4,000 media
    * already cross the 8·2^8 threshold, and every id past the cap only
    * re-decodes more planted bitmaps for the same CASE arm (the r15
    * bench spent 23.4 s — 8.5% of the suite — decoding the uncapped
    * sf0.1 expansion each pass, and the uncapped ×100 leg was
    * unfinishable: the saturating content period turns corpus growth
    * into quadratic exact-dup re-attach volume). The cap pins the
    * fixture's content — and its cost — independent of SF; the dense
    * plant's GROWTH law is measured (SKEW_scale.txt, round 16,
    * "dense-phash re-pricing") on the uncapped variant with `strideMod`
    * scaled ∝ corpus (content period growing with the corpus, the SKEW
    * r15 lesson), where exact-dup group sizes stay bounded and the
    * decades finish.
    */
  def plantPhashCorpusDense(
      media: DataFrame,
      repl: Int = 8,
      groupSize: Int = 4,
      shiftStep: Int = 9,
      strideMod: Int = 23,
      baseCap: Long = 500L): DataFrame = {
    val expanded = media
      .select(col("media_id"), col("kind"))
      .filter(if (baseCap > 0) col("media_id") < baseCap else lit(true))
      .withColumn("r", explode(sequence(lit(0L), lit(repl - 1L))))
      .select((col("media_id") * repl + col("r")).as("media_id"), col("kind"))
    plantPhashCorpus(expanded, groupSize, shiftStep, strideMod)
  }

  /** REAL perceptual average-hash (aHash) decode of a GRFT bitmap (layout
    * in the [[MultimodalOps]] scaladoc): the [[header]] check, the [[nearest]] `grid` x `grid` sample as a
    * luminance matrix (gray = r+g+b per sampled pixel — a sum, no division,
    * so both engines agree exactly), and bit `j` set iff
    * `grid² * gray_j > Σ gray` (strict compare against the mean without
    * ever forming a fraction). The 64 bits (grid=8, the standard aHash
    * shape) are emitted as `grid` per-row band bytes rather than one int64
    * so downstream banding never touches the sign bit. Every hash bit
    * exists only in the payload bytes (corrupt one pixel byte and the hash
    * moves — spec-pinned).
    */
  def phashBands(media: Dataset[MediaRow], grid: Int = 8): Dataset[MediaPhash] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val b = r.payload
      header(b, Grft).map { case (w, h) =>
        val gray = nearest(w, h, grid, grid)
          .map(o => (b(o) & 0xffL) + (b(o + 1) & 0xffL) + (b(o + 2) & 0xffL))
        val total = gray.sum
        val bands = new Array[Long](grid)
        for (j <- gray.indices if gray(j) * grid * grid > total)
          bands(j / grid) |= 1L << (j % grid)
        MediaPhash(r.media_id, r.kind, bands.toSeq)
      }
    }
  }

  /** Perceptual near-duplicate pairs over the decoded aHash — the media leg
    * of the dedup family (exact doc / MinHash / SimHash / span / semantic
    * all cover text or embeddings; this covers pixels). LSH over Hamming
    * space exactly like `DedupOps.simhashBallPairs`, but the sketch is
    * genuinely parsed out of image bytes, not token votes:
    *
    *  - EXACT-DEDUP FIRST (the default since round 12): identical hash
    *    vectors collapse to one representative (min id) BEFORE any
    *    banding — the production order (cheap exact groups strike first,
    *    perceptual LSH only ever sees unique sketches). Measured law
    *    (SKEW_scale.txt, round 11, "phashPairs pairing-volume growth
    *    law"): the band-key
    *    space is FIXED at `grid · 2^grid` (grid=8: 2,048 buckets), so
    *    raw-hash occupancy grows linearly with the corpus and uncapped
    *    pairing quadratically (6.7 M → 677 M → 67.7 B candidates at
    *    1×/10×/100× of sf0.1); at ×100 the corpus is exact-dup-saturated
    *    and EVERY raw bucket overflows the cap — 0 within-cap pairs,
    *    silent recall death. Representatives shrink the pairing universe
    *    500× (hottest bucket 60,640 → 139) and restore in-cap occupancy;
    *  - each hash is already `grid` byte-sized band slices ([[phashBands]]);
    *  - bucket REPRESENTATIVES on (band index, band value): two hashes
    *    within Hamming distance `maxDist < grid` agree exactly on ≥1 band
    *    (pigeonhole), so in-ball recall over representatives is 1 with no
    *    all-pairs scan;
    *  - hot buckets above `maxBucket` — now counted in DISTINCT hashes,
    *    not raw rows — are dropped before pairing (the
    *    `DedupOps.DefaultMaxBucket` discipline, mirrored in the oracle),
    *    bounding pairing at Σ_kept |ds|²/2 per band; the remaining scale
    *    knob is `grid` (grid=16 → 16 bands × 2^16 = 1.05 M buckets, the
    *    Manku-style multi-index sizing, same code path and guarantee);
    *  - candidates verify with popcount-of-XOR folded over the band
    *    arrays (`zip_with` + `aggregate`, codegen'd — both hashes ride in
    *    the bucket array, no join back);
    *  - members re-attach AFTER pairing, by equi-join on the member→rep
    *    map: a verified rep pair (ra, rb, d) expands to every cross-group
    *    member pair at the SAME distance d (Hamming depends only on the
    *    hash), and each exact group additionally emits its own
    *    C(|G|, 2) member pairs at hamming 0 — so the output is the same
    *    member-level pair set as banding raw hashes, except the cap now
    *    drops perceptual COLLISION mass instead of exact-duplicate mass.
    *
    * Output: (id_a, id_b, hamming, same_src), id_a < id_b, `same_src` = 1
    * iff the two ids came from the same planted base image — the audit
    * column a threshold-tuning run reads.
    */
  def phashPairs(
      media: DataFrame,
      grid: Int = 8,
      maxDist: Int = 6,
      groupSize: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    import media.sparkSession.implicits._
    // materialize the sketch ONCE (r20, guide §2.4/§3.3): the pairing body
    // consumes the sketch relation five times (groups, the member map's
    // join side, and both re-attach sides) and ReuseExchange only
    // recovered part of that — the executed plan re-ran the
    // plant-expression + bitmap-decode pipeline 5x per query (PLANPROBE
    // r19: q_media_phash documents.parquet x5). The sketch is tiny
    // (media_id, kind, `grid` longs) while the thing it truncates — the
    // payload synthesis + decode — is the family's dominant cost, so one
    // lineage cut here is the store-the-sketch-table production
    // discipline at fixture scale (before/after numbers:
    // OPTIMIZATION_r20.md).
    phashPairsOfSketch(
      graft.Checkpoints.cut(phashBands(media.as[MediaRow], grid).toDF()),
      grid, maxDist, groupSize, maxBucket)
  }

  /** [[phashPairs]] over a PRE-MATERIALIZED sketch relation (media_id,
    * kind, bands) — the pairing body shared by the direct-grid entry and
    * [[phashPairsAuto]] (which reuses its grid-8 PROBE sketch here,
    * deleting the second decode pass the old probe-then-rehash shape
    * paid). `sk` must be cheap to re-scan: a checkpointed/stored frame,
    * never a live decode pipeline.
    */
  private[graft] def phashPairsOfSketch(
      sk: DataFrame,
      grid: Int,
      maxDist: Int = 6,
      groupSize: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    require(maxDist < grid, "recall guarantee needs maxDist < number of bands")
    // exact-dedup-first: one representative per distinct hash vector
    val (reps, mem) = SimOps.repCollapse(sk, "media_id", "bands")
    val rows = reps
      .select(col("media_id"), col("bands"), posexplode(col("bands")))
      .select(col("media_id"), col("bands"),
        concat_ws(":", col("pos"), col("col")).as("bkey"))
    val ham = (xb: Column, yb: Column) =>
      aggregate(
        zip_with(xb, yb, (p, q) => bit_count(p.bitwiseXOR(q)).cast("long")),
        lit(0L), (acc, v) => acc + v)
    val repPairs = DedupOps.bucketPairs(rows, "bkey",
      struct(col("media_id").as("id"), col("bands").as("bs")), maxBucket) { (x, y) =>
      struct(x("id").as("id_a"), y("id").as("id_b"), ham(x("bs"), y("bs")).as("d"))
    }
      .groupBy(col("p.id_a").as("ra"), col("p.id_b").as("rb"))
      .agg(min(col("p.d")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
    // re-attach members: cross-group pairs inherit the rep distance, each
    // exact group contributes its own pairs at hamming 0
    SimOps.reattach(repPairs, mem, "media_id", score = "hamming", exact = 0L)
      .withColumn("same_src",
        expr(s"CAST(id_a div $groupSize = id_b div $groupSize AS BIGINT)"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Corpus-sized `grid` selection for [[phashPairs]] — the banding analog
    * of `SimOps.sqrtCentroidPred`'s corpus-derived nlist: pick the
    * smallest supported grid whose band-key space `grid · 2^grid` is at
    * least the PAIRING UNIVERSE (distinct hashes after exact-dedup-first),
    * so expected bucket occupancy stays ≤ 1 and the hot-bucket cap only
    * ever drops true perceptual collision mass. grid=8 (2,048 buckets) is
    * the standard 64-bit aHash and covers rep universes to ~2k; grid=16
    * (1.05 M buckets) is the Manku-style multi-index sizing for larger
    * ones. NOTE the trade the caller owns: `grid` changes the HASH itself
    * (a 16×16 aHash is a finer fingerprint, not just finer banding) — a
    * re-hash, not just a re-shard; production re-hashing decisions go
    * through this rule explicitly, and since r14 the declared queries DO
    * (grid = [[autoPhashGrid]], with the DuckDB oracle deriving the same
    * grid from the same probe count and replaying the derived
    * fingerprint). Measured at ×100
    * (SKEW_scale.txt, round 11, "phashPairs pairing-volume growth law",
    * exact-dedup-first rows): rep universe 1,099 → grid=8 still
    * caps its hottest bucket (139 > 64); grid=16 holds hottest at 86 with
    * 2.4× the in-cap candidate volume.
    */
  def phashGridFor(pairingUniverse: Long): Int =
    if (pairingUniverse <= 8L * (1L << 8)) 8 else 16

  /** The grid probe of the phash family, the one place it is written: the
    * grid-8 sketch, materialized ([[Checkpoints.cut]]), and the grid
    * [[phashGridFor]] derives from its distinct-hash universe (one
    * count() on the materialized frame). The caller owns the sketch's
    * blocks: it pairs or audits the sketch itself when the grid is 8, and
    * [[Checkpoints.release]]s it otherwise.
    */
  private def probe(media: DataFrame): (DataFrame, Int) = {
    import media.sparkSession.implicits._
    val sk8 = graft.Checkpoints.cut(phashBands(media.as[MediaRow], 8).toDF())
    (sk8, phashGridFor(sk8.select(col("bands")).distinct().count()))
  }

  /** CORPUS-DERIVED `grid` for the phash family — the last fixed key
    * space closed, by the [[graft.operators.SimOps.autoSignBits]] recipe:
    * the [[probe]] hashes at the BASE grid (8, the standard 64-bit aHash),
    * counts the distinct-hash universe (the exact-dedup-first pairing
    * universe), and [[phashGridFor]] picks the smallest grid whose
    * band-key space `grid · 2^grid` holds it at ≤ 1 expected occupancy;
    * the probe's sketch is released before returning. Counting at the
    * base grid breaks the circularity that the universe at grid g needs
    * grid g (the grid-8 universe lower-bounds every finer grid's, so a
    * space sized for it only ever errs toward re-hashing finer).
    * [[autoPhashGridSql]] mirrors the rule for DuckDB over a grid-8 hash
    * relation.
    */
  def autoPhashGrid(media: DataFrame): Int = {
    val (sk8, grid) = probe(media)
    graft.Checkpoints.release(sk8)
    grid
  }

  /** Probe + pair with ONE decode (r20, guide §1.2 step 1 — don't compute
    * things you throw away): at the derived grid 8 (every declared corpus
    * except the dense plant) the [[probe]]'s own sketch goes to
    * [[phashPairsOfSketch]] — zero extra passes. Only a derived grid 16
    * releases the probe sketch and re-hashes (a FINER fingerprint is a
    * different hash — unavoidable by construction). Grid decision and pair
    * output are bit-identical to `phashPairs(m, grid = autoPhashGrid(m))`.
    */
  def phashPairsAuto(
      media: DataFrame,
      maxDist: Int = 6,
      groupSize: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    val (sk8, grid) = probe(media)
    if (grid == 8) phashPairsOfSketch(sk8, 8, maxDist, groupSize, maxBucket)
    else {
      graft.Checkpoints.release(sk8)
      phashPairs(media, grid, maxDist, groupSize, maxBucket)
    }
  }

  /** DuckDB scalar-subquery mirror of [[autoPhashGrid]]: `hashRel` must
    * hold the grid-8 hash vectors of the SAME corpus in column `hashCol`.
    */
  def autoPhashGridSql(hashRel: String, hashCol: String = "hsh"): String =
    s"(SELECT CASE WHEN count(DISTINCT $hashCol) <= ${8L * (1L << 8)} " +
      s"THEN 8 ELSE 16 END AS g FROM $hashRel)"

  /** Cap telemetry for [[phashPairs]]' representative band buckets — the
    * media member of the [[DedupOps.capAudit]] family. Buckets are counted
    * over DISTINCT hashes (the operator's exact-dedup-first universe), so
    * `pairs_forgone` measures perceptual collision mass the cap actually
    * drops — the quantity that silently went to 100% of candidates at ×100
    * under raw-item banding (SKEW_scale.txt).
    */
  def phashCapAudit(
      media: DataFrame,
      grid: Int = 8,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    import media.sparkSession.implicits._
    phashCapAuditOfSketch(phashBands(media.as[MediaRow], grid).toDF(), maxBucket)
  }

  /** [[phashCapAudit]] over a pre-computed sketch relation — shared with
    * [[phashCapAuditAuto]] so the probe's sketch is audited directly. */
  private[graft] def phashCapAuditOfSketch(
      sk: DataFrame, maxBucket: Int): DataFrame = {
    val reps = sk.groupBy(col("bands")).agg(min(col("media_id")).as("media_id"))
    val sizes = reps
      .select(col("media_id"), posexplode(col("bands")))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("sz"))
    DedupOps.capAudit(sizes, maxBucket, "phash_band")
  }

  /** Probe + cap-audit with ONE decode — [[phashPairsAuto]]'s rule applied
    * to the audit query (r20): audit the [[probe]]'s sketch when the
    * derived grid is 8; at 16 release it and audit a fresh grid-16 sketch.
    */
  def phashCapAuditAuto(
      media: DataFrame,
      maxBucket: Int = DedupOps.DefaultMaxBucket): DataFrame = {
    val (sk8, grid) = probe(media)
    if (grid == 8) phashCapAuditOfSketch(sk8, maxBucket)
    else {
      graft.Checkpoints.release(sk8)
      phashCapAudit(media, grid, maxBucket)
    }
  }


  /** Content-defined chunking — the rsync/casync/FastCDC storage-dedup
    * primitive, byte-level and format-agnostic where every other dedup op
    * here is token- or pixel-level: cut each payload wherever the rolling
    * 4-byte window hash `b₀·27 + b₁·9 + b₂·3 + b₃ ≡ 0 (mod modulus)`, so
    * cut points are a pure function of LOCAL content. That makes the
    * chunking self-synchronizing: insert or flip bytes anywhere and every
    * chunk outside the edited window keeps its identity (spec-pinned),
    * which is why identical spans in DIFFERENT payloads — a shared header,
    * a quoted block, a re-encoded copy — hash to identical chunks without
    * any alignment step. Expected chunk length ≈ `modulus` bytes.
    *
    * Executor shape: one sequential pass per payload in the typed
    * `mapPartitions` batch path (the digest instance is per-partition
    * state, reset per chunk); emits (media_id, chunk_idx, start, len, md5).
    * No shuffle until the consumer aggregates chunk hashes.
    */
  def cdcChunks(media: Dataset[MediaRow], modulus: Int = 32): Dataset[MediaChunk] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val b = r.payload
        if (b.length == 0) Iterator.empty
        else {
          val cuts = collection.mutable.ArrayBuffer[Int](0)
          var p = 3
          while (p < b.length) {
            val h = (b(p - 3) & 0xff) * 27 + (b(p - 2) & 0xff) * 9 +
              (b(p - 1) & 0xff) * 3 + (b(p) & 0xff)
            if (h % modulus == 0 && p + 1 < b.length) cuts += p + 1
            p += 1
          }
          cuts += b.length
          cuts.iterator.sliding(2).zipWithIndex.map { case (Seq(s, e), i) =>
            md.reset()
            val hex = md.digest(java.util.Arrays.copyOfRange(b, s, e))
              .map("%02x".format(_)).mkString
            MediaChunk(r.media_id, i.toLong, s.toLong, (e - s).toLong, hex)
          }
        }
      }
    }
  }

  /** Cross-payload duplicate-chunk report over [[cdcChunks]] — the
    * storage-dedup ledger: every chunk hash held by ≥ 2 distinct media
    * items, with its occurrence count and the bytes a content-addressed
    * store would save by keeping one copy. One hash aggregation over the
    * chunk stream (map-side combined, keyed by the 32-hex hash — uniform,
    * skew-free by construction); at 100 TB this is exactly the dedup
    * estimation pass a backup/lakehouse system runs, and the chunk table
    * itself is the content-addressed index.
    *
    * Output: (chunk_md5, n_media, n_occ, chunk_bytes, saved_bytes)
    * ordered by hash.
    */
  def cdcDuplicateChunks(media: DataFrame, modulus: Int = 32): DataFrame = {
    import media.sparkSession.implicits._
    cdcChunks(media.as[MediaRow], modulus).toDF()
      .groupBy(col("chunk_md5"))
      .agg(
        countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_occ"),
        min(col("len")).as("chunk_bytes"))
      .filter(col("n_media") >= 2)
      .withColumn("saved_bytes", (col("n_occ") - 1) * col("chunk_bytes"))
      .orderBy(col("chunk_md5"))
  }
}
