package graft

import org.apache.spark.sql.functions._

import graft.operators.{MediaRow, MultimodalOps}

class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("asMedia: binary payload is the UTF-8 bytes, kind round-robins") {
    val m = MultimodalOps.asMedia(docs((0L, "ab"), (1L, "cd"), (2L, "ef"), (3L, "gh")))
    val got = m.as[MediaRow].collect().map(r => r.media_id -> (r.kind, new String(r.payload, "UTF-8"))).toMap
    assert(got(0L) == ("image", "ab"))
    assert(got(1L) == ("audio", "cd"))
    assert(got(2L) == ("video", "ef"))
    assert(got(3L) == ("image", "gh"))
  }

  test("mediaMeta: length, md5, magic on a hand-checked payload") {
    val r = MultimodalOps.mediaMeta(MultimodalOps.asMedia(docs((1L, "hello")))).head()
    assert(r.getAs[Long]("n_bytes") == 5L)
    assert(r.getAs[String]("fp_md5") == "5d41402abc4b2a76b9719d911017c592")
    assert(r.getAs[String]("magic") == "68656c6c") // 'hell'
  }

  test("mediaDims: planted header bytes parse back to the planted dims") {
    val got = MultimodalOps.mediaDims(
      MultimodalOps.plantDims(MultimodalOps.asMedia(docs((1L, "hello"), (2L, "xy")))))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // id 1: w = (37+64)%4096+1 = 102, h = (53+48)%2160+1 = 102, body 5
    // id 2: w = (74+64)%4096+1 = 139, h = (106+48)%2160+1 = 155, body 2
    assert(got == Seq((1L, "audio", 102L, 102L, 5L), (2L, "video", 139L, 155L, 2L)))
    // and the header really is in the BYTES: magic + big-endian ints
    val raw = MultimodalOps.plantDims(MultimodalOps.asMedia(docs((1L, "hello"))))
      .select(col("payload")).as[Array[Byte]].head()
    assert(raw.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    assert(((raw(4) & 0xff) << 24 | (raw(5) & 0xff) << 16 |
      (raw(6) & 0xff) << 8 | (raw(7) & 0xff)) == 102)
  }

  test("frameSample: 8 evenly spaced bytes; short payloads dropped") {
    val text16 = "abcdefghijklmnop" // 16 bytes, step 2: a c e g i k m o
    val df = MultimodalOps.frameSample(MultimodalOps.asMedia(docs((1L, text16), (2L, "short"))))
    val rows = df.collect()
    assert(rows.length == 1)
    val expected = "acegikmo".getBytes("UTF-8").map("%02x".format(_)).mkString
    assert(rows(0).getAs[String]("frame_hex") == expected)
  }

  test("decodeFeatures: RLE stream genuinely decompresses to formula stats") {
    // id 1: w = (3+2)%9+2 = 7, h = (5+1)%7+2 = 8, n = 168 pixel bytes;
    // run length R = 1%5+3 = 4, k = ceil(168/4) = 42 runs
    val media = MultimodalOps.plantRle(MultimodalOps.asMedia(docs((1L, "x")))).repartition(3)
    val got = MultimodalOps.decodeFeatures(media.as[MediaRow]).collect()
    assert(got.length == 1)
    val f = got(0)
    assert((f.width, f.height, f.n_px, f.n_runs) == ((7L, 8L, 56L, 42L)))
    assert(f.comp_bytes == 12L + 2 * 42) // 84 pair bytes + header
    assert(f.ratio_bp == (12L + 84) * 10000 / (12 + 168))
    // ground truth from the generative formula: byte i = run (i div 4)'s value
    val vs = (0 until 168).map(i => (i % 3, (1L * 31 + (i / 4) * 7) % 256))
    def ch(c: Int) = vs.collect { case (`c`, v) => v }
    assert((f.r_mean, f.g_mean, f.b_mean) ==
      ((ch(0).sum / 56, ch(1).sum / 56, ch(2).sum / 56)))
    // the stats really come from DECOMPRESSING the bytes:
    // corrupt one compressed VALUE byte -> the channel means move
    val raw = media.as[MediaRow].head().payload.clone()
    raw(13) = 0xff.toByte // value byte of run 0
    val f2 = MultimodalOps.decodeFeatures(Seq(MediaRow(1L, "image", raw)).toDS()).collect()(0)
    assert(f2.r_mean != f.r_mean || f2.g_mean != f.g_mean || f2.b_mean != f.b_mean)
    // corrupt a COUNT byte -> expansion no longer sums to w*h*3 -> dead-letter
    val raw2 = media.as[MediaRow].head().payload.clone()
    raw2(12) = 0x01.toByte // run 0 length 4 -> 1
    assert(MultimodalOps.decodeFeatures(Seq(MediaRow(1L, "image", raw2)).toDS()).collect().isEmpty)
  }

  test("decodeFeatures: malformed payloads take the dead-letter path") {
    val bad = Seq(
      MediaRow(1L, "image", Array.emptyByteArray),             // too short
      MediaRow(2L, "image", "XXXX000000000000000000".getBytes), // wrong magic
      MediaRow(3L, "image", Array[Byte](0x47, 0x52, 0x46, 0x5a, // odd pair bytes
        0, 0, 0, 1, 0, 0, 0, 1, 3, 7, 9)),
      MediaRow(4L, "image", Array[Byte](0x47, 0x52, 0x46, 0x5a, // zero-count run
        0, 0, 0, 1, 0, 0, 0, 1, 0, 7)))
    assert(MultimodalOps.decodeFeatures(bad.toDS()).collect().isEmpty)
  }

  test("decodePixels: planted bitmap parses back to formula-exact channel stats") {
    // id 1: w = (3+2)%9+2 = 7, h = (5+1)%7+2 = 8, 7*8*3 = 168 pixel bytes
    val media = MultimodalOps.plantPixels(MultimodalOps.asMedia(docs((1L, "x")))).repartition(3)
    val got = MultimodalOps.decodePixels(media.as[MediaRow]).collect()
    assert(got.length == 1)
    val p = got(0)
    assert((p.width, p.height, p.n_px) == ((7L, 8L, 56L)))
    // ground truth straight from the generative formula, per channel
    val vs = (0 until 168).map(i => (i % 3, (1L * 31 + i * 7) % 256))
    def ch(c: Int) = vs.collect { case (`c`, v) => v }
    assert(p.r_mean == ch(0).sum / 56 && p.g_mean == ch(1).sum / 56 && p.b_mean == ch(2).sum / 56)
    assert((p.r_min, p.r_max) == ((ch(0).min, ch(0).max)))
    assert((p.g_min, p.g_max) == ((ch(1).min, ch(1).max)))
    assert((p.b_min, p.b_max) == ((ch(2).min, ch(2).max)))
    // and the stats really come from the BYTES: corrupt one pixel byte and
    // the parsed red channel moves with it
    val raw = media.as[MediaRow].head().payload.clone()
    raw(12) = 0xff.toByte
    val p2 = MultimodalOps.decodePixels(Seq(MediaRow(1L, "image", raw)).toDS()).collect()(0)
    assert(p2.r_max == 255L && p2.r_mean != p.r_mean)
  }

  test("resizePixels: nearest-neighbor sample matches the generative formula") {
    // id 1: source 7x8; resize to 4x3; ground truth replayed from the
    // pixel formula through the same index arithmetic
    val media = MultimodalOps.plantPixels(MultimodalOps.asMedia(docs((1L, "x"))))
    val got = MultimodalOps.resizePixels(media.as[MediaRow], outW = 4, outH = 3)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].head()
    val (w, h) = (7L, 8L)
    val samples = for (y <- 0 until 3; x <- 0 until 4; ch <- 0 until 3) yield {
      val (sy, sx) = (y * h / 3, x * w / 4)
      val i = (sy * w + sx) * 3 + ch
      (ch, (1L * 31 + i * 7) % 256)
    }
    def chSum(c: Int) = samples.collect { case (`c`, v) => v }.sum
    assert(got == ((1L, "audio", 4L, 3L,
      chSum(0) / 12, chSum(1) / 12, chSum(2) / 12, samples.map(_._2).sum)))
  }

  test("decodePixels: malformed payloads take the dead-letter path") {
    val bad = Seq(
      MediaRow(1L, "image", Array.emptyByteArray),              // too short
      MediaRow(2L, "image", "XXXX0000000000000000".getBytes),   // wrong magic
      MediaRow(3L, "image", Array[Byte](0x47, 0x52, 0x46, 0x54, // truncated body
        0, 0, 0, 2, 0, 0, 0, 2, 1, 2, 3)),
      MediaRow(4L, "image", Array[Byte](0x47, 0x52, 0x46, 0x54, // zero width, empty body
        0, 0, 0, 0, 0, 0, 0, 2))).toDS()
    assert(MultimodalOps.decodePixels(bad).collect().isEmpty)
    // the other GRFT decoders read the same header: the same dead letters
    assert(MultimodalOps.resizePixels(bad, outW = 4, outH = 3).collect().isEmpty)
    assert(MultimodalOps.phashBands(bad).collect().isEmpty)
  }

  // --- perceptual hash ------------------------------------------------

  /** Replay of plantPhashCorpus's generative pixel formula (r17 ring:
    * linear stride + the quadratic i²·s2 term, s2 = hash60(grp) mod 256).
    */
  private def phashPixels(id: Long, groupSize: Int = 4, shiftStep: Int = 9): (Int, Int, Array[Int]) = {
    val grp = id / groupSize
    val shift = (id % groupSize) * shiftStep
    val w = ((grp * 3 + 2) % 9 + 2).toInt
    val h = ((grp * 5 + 1) % 7 + 2).toInt
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(grp.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val s2 = java.lang.Long.parseLong(md5.take(15), 16) % 256
    (w, h, Array.tabulate(w * h * 3)(i =>
      ((grp * 31 + i * 7 + i.toLong * i * s2 + shift) % 256).toInt))
  }

  /** Replay of phashBands' aHash rule on a raw pixel array. */
  private def replayBands(w: Int, h: Int, px: Array[Int]): Seq[Long] = {
    val gray = (for (gy <- 0 until 8; gx <- 0 until 8) yield {
      val b = ((gy * h / 8) * w + gx * w / 8) * 3
      (px(b) + px(b + 1) + px(b + 2)).toLong
    }).toArray
    val total = gray.sum
    val bands = new Array[Long](8)
    for (j <- 0 until 64) if (gray(j) * 64 > total) bands(j / 8) |= 1L << (j % 8)
    bands.toSeq
  }

  private def phashDocs(n: Int) =
    (0 until n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")

  test("phashBands: decoded hash equals the generative-formula replay") {
    val got = MultimodalOps.phashBands(
      MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(phashDocs(24)))
        .as[MediaRow]).collect().map(r => r.media_id -> r.bands).toMap
    assert(got.size == 24)
    (0L until 24L).foreach { id =>
      val (w, h, px) = phashPixels(id)
      assert(got(id) == replayBands(w, h, px), s"id=$id")
    }
  }

  test("phashBands: the hash lives in the payload bytes (corruption moves it)") {
    val (w, h, px) = phashPixels(1L)
    val base = replayBands(w, h, px)
    // blow out the first pixel (sampled by several grid cells) to pure
    // white: its luminance jumps from ~48 to 765, deterministically
    // crossing the mean threshold. A single-byte nudge deliberately does
    // NOT flip the hash — that robustness is the point of aHash — so the
    // corruption here is a full sampled pixel.
    val mod = px.clone()
    (0 until 3).foreach(c => mod(c) = 255)
    val payload = Array[Byte](0x47, 0x52, 0x46, 0x54,
      0, 0, 0, w.toByte, 0, 0, 0, h.toByte) ++ mod.map(_.toByte)
    val got = MultimodalOps.phashBands(Seq(MediaRow(1L, "image", payload)).toDS())
      .collect().head.bands
    // the decode tracks the corrupted bytes exactly...
    assert(got == replayBands(w, h, mod))
    // ...and the hash genuinely moved
    assert(got != base, "corrupting a sampled pixel must move the hash")
  }

  // --- content-defined chunking ---------------------------------------

  /** Replay of cdcChunks' boundary rule on raw bytes. */
  private def replayCuts(b: Array[Byte], modulus: Int = 32): Seq[Int] = {
    val cuts = collection.mutable.ArrayBuffer[Int](0)
    for (p <- 3 until b.length) {
      val h = (b(p - 3) & 0xff) * 27 + (b(p - 2) & 0xff) * 9 +
        (b(p - 1) & 0xff) * 3 + (b(p) & 0xff)
      if (h % modulus == 0 && p + 1 < b.length) cuts += p + 1
    }
    cuts += b.length
    cuts.toSeq
  }

  test("cdcChunks: chunks partition the payload at the replayed rolling-hash cuts") {
    val payload = ("the fast key order sort table scan merge part window " * 4).getBytes("UTF-8")
    val got = MultimodalOps.cdcChunks(Seq(MediaRow(1L, "image", payload)).toDS())
      .collect().sortBy(_.chunk_idx)
    val cuts = replayCuts(payload)
    assert(got.length == cuts.length - 1)
    assert(got.map(_.start.toInt).toSeq == cuts.init)
    assert(got.map(c => (c.start + c.len).toInt).toSeq == cuts.tail)
    // hashes really are the chunk bytes' md5
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { c =>
      md.reset()
      val hex = md.digest(java.util.Arrays.copyOfRange(
        payload, c.start.toInt, (c.start + c.len).toInt)).map("%02x".format(_)).mkString
      assert(c.chunk_md5 == hex)
    }
  }

  test("cdcChunks: self-synchronizing — a one-byte edit only disturbs local chunks") {
    val payload = ("spark merge join order batch stream window dup hash scan " * 8).getBytes("UTF-8")
    val edited = payload.clone(); edited(payload.length / 2) = 'Z'.toByte
    val a = MultimodalOps.cdcChunks(Seq(MediaRow(1L, "image", payload)).toDS())
      .collect().map(_.chunk_md5).toSet
    val b = MultimodalOps.cdcChunks(Seq(MediaRow(1L, "image", edited)).toDS())
      .collect().map(_.chunk_md5).toSet
    assert(a != b, "the edit must move at least one chunk hash")
    // chunks outside the edited window re-synchronize: most hashes survive
    assert((a intersect b).size * 2 > a.size, s"lost ${a.size - (a intersect b).size} of ${a.size}")
  }

  test("cdcDuplicateChunks: a verbatim replica shares every chunk; report counts it") {
    val base = ("the quick brown fox jumps over the lazy dog again and again " * 5).getBytes("UTF-8")
    val media = Seq(
      MediaRow(1L, "image", base),
      MediaRow(2L, "image", base.clone()),              // byte-identical copy
      MediaRow(3L, "image", "entirely different content with no shared spans at all".getBytes))
      .toDF("media_id", "kind", "payload")
    val dup = MultimodalOps.cdcDuplicateChunks(media).collect()
    val baseChunks = MultimodalOps.cdcChunks(Seq(MediaRow(1L, "image", base)).toDS()).collect()
    // every distinct chunk hash of the copied payload is reported, all with
    // n_media = 2 (doc 3 shares nothing); occurrence bytes cover both copies
    assert(dup.length == baseChunks.map(_.chunk_md5).distinct.length)
    assert(dup.forall(_.getAs[Long]("n_media") == 2L))
    assert(dup.map(r => r.getAs[Long]("n_occ") * r.getAs[Long]("chunk_bytes")).sum
      == 2L * base.length)
    // at least one full copy's worth of bytes is deduplicable
    assert(dup.map(_.getAs[Long]("saved_bytes")).sum >= base.length.toLong)
  }

  test("phashPairs: equals brute-force Hamming pairs; brightness variants found, md5 misses them") {
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(phashDocs(24)))
    val got = MultimodalOps.phashPairs(media, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute force over the replayed hashes: maxDist=6 < 8 bands, so LSH
    // recall is 1 and the output must match exactly
    val bands = (0L until 24L).map { id =>
      val (w, h, px) = phashPixels(id); id -> replayBands(w, h, px)
    }.toMap
    val expect = (for {
      a <- 0L until 24L; b <- (a + 1) until 24L
      d = bands(a).zip(bands(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 6
    } yield (a, b, d.toLong, if (a / 4 == b / 4) 1L else 0L)).toSeq
    assert(got.toSeq.sorted == expect.sorted)
    // the perceptual point: some same-group brightness variants pair up...
    assert(got.exists(_._4 == 1L), "no planted variant pair found")
    // ...while their payloads are byte-distinct (exact dedup would miss them)
    val md5s = MultimodalOps.mediaMeta(media).select("fp_md5").as[String].collect()
    assert(md5s.distinct.length == md5s.length)
  }

  test("media takedown: dedupForget over the phash pair set re-derives visual clusters") {
    // the pair-set-generic takedown on the MEDIA modality (q_media_forget):
    // tombstone a clustered variant and check the composition against the
    // recomputed after-closure over surviving pairs
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(phashDocs(24)))
    val pairs = MultimodalOps.phashPairs(media, maxBucket = 0)
      .select(col("id_a"), col("id_b"))
    val before = graft.operators.DedupOps.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(before.nonEmpty, "fixture produced no visual clusters")
    // tombstone every cluster REPRESENTATIVE (the min id): reps must
    // re-elect, so every surviving member of a >=3 cluster reports a
    // changed label
    val tombs = before.map(_._2).distinct.sorted
    val out = graft.operators.DedupOps.dedupForget(pairs, tombs.toSeq.toDF("doc_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.forall { case (id, _, _, _, _) => !tombs.contains(id) },
      "a tombstoned media id appeared in the output")
    // every reported row's old cluster was led by a tombstone, so the new
    // label can never equal it
    assert(out.forall { case (_, oldC, newC, repChanged, _) =>
      newC != oldC && repChanged == 1L }, s"rep not re-elected: $out")
    // parity: non-singleton labels equal the recomputed closure over
    // surviving pairs; singletons have no surviving pair
    val surviving = pairs
      .filter(!col("id_a").isInCollection(tombs) && !col("id_b").isInCollection(tombs))
    val after = graft.operators.DedupOps.dedupClusters(surviving)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, _, newC, _, single) =>
      if (single == 1L) assert(!after.contains(id) && newC == id)
      else assert(after(id) == newC, s"label mismatch for $id")
    }
  }

  test("phashPairs: exact-dup saturation cannot overflow the cap (dedup-first default)") {
    // Two exact groups of 20 byte-identical payloads each: 40 raw items per
    // band bucket would blow any cap <= 40 and silently emit NOTHING under
    // raw-item banding (the measured x100 failure mode) — dedup-first
    // collapses each group to one representative, so every bucket holds
    // <= 2 distinct hashes and the full pair set survives a cap of 4.
    val (w, h, px) = phashPixels(0L)
    val mod = px.clone(); (0 until 3).foreach(c => mod(c) = 255)
    def payload(p: Array[Int]) = Array[Byte](0x47, 0x52, 0x46, 0x54,
      0, 0, 0, w.toByte, 0, 0, 0, h.toByte) ++ p.map(_.toByte)
    val media = ((0L until 20L).map(id => (id, "image", payload(px))) ++
      (20L until 40L).map(id => (id, "image", payload(mod))))
      .toDF("media_id", "kind", "payload")
    val hA = replayBands(w, h, px)
    val hB = replayBands(w, h, mod)
    val d = hA.zip(hB).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toLong
    assert(d >= 1, "fixture must hold two distinct hashes")
    val got = MultimodalOps.phashPairs(media, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val intra = (for (g <- Seq(0L, 20L); a <- g until g + 20; b <- (a + 1) until g + 20)
      yield (a, b, 0L)).toSet
    val cross = if (d <= 6)
      (for (a <- 0L until 20L; b <- 20L until 40L) yield (a, b, d)).toSet
    else Set.empty[(Long, Long, Long)]
    assert(got == intra ++ cross)
    assert(got.nonEmpty, "cap must not erase an exact-dup-saturated corpus")
  }

  test("phashGridFor: band-key space covers the pairing universe") {
    def keySpace(g: Int) = g.toLong * (1L << g)
    for (n <- Seq(1L, 100L, 2048L, 2049L, 100000L, 1048576L)) {
      val g = MultimodalOps.phashGridFor(n)
      assert(g == 8 || g == 16)
      if (n <= keySpace(8)) assert(g == 8, s"n=$n should keep the standard 8x8 aHash")
      else assert(keySpace(g) >= n || g == 16, s"n=$n")
    }
  }

  test("autoPhashGrid: derives the grid from the probe-counted grid-8 hash universe") {
    // the planted fixture corpus collapses to far fewer than 2048 distinct
    // hashes -> the rule keeps the standard 8x8 aHash, and the derived-grid
    // pair set equals the grid-8 pair set exactly
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(sf("documents")))
    val g = MultimodalOps.autoPhashGrid(media)
    assert(g == 8, s"fixture universe must stay inside 8*2^8, got grid $g")
    val auto = MultimodalOps.phashPairs(media, grid = g)
      .as[(Long, Long, Long, Long)].collect().toSet
    val fixed = MultimodalOps.phashPairs(media, grid = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(auto == fixed)
  }

  test("plantPhashCorpusDense: probe universe crosses 8*2^8 and the 16-flip executes") {
    // the base plant's content saturates at ~1.1k distinct hashes at ANY
    // corpus size (its dim/ramp periods), so the grid-16 branch never ran
    // under a real corpus; the dense plant (ids x8, per-group ramp
    // stride) crosses the bound at the 500-doc fixture
    val media = MultimodalOps.plantPhashCorpusDense(MultimodalOps.asMedia(sf("documents")))
    val g = MultimodalOps.autoPhashGrid(media)
    assert(g == 16, s"dense universe must cross 8*2^8 and derive grid 16, got $g")
    // the 16x16 pairing still recovers brightness-shifted in-group
    // variants: every group of 4 consecutive ids shares a base image
    val pairs = MultimodalOps.phashPairs(media, grid = g)
      .filter(col("same_src") === 1L)
    assert(pairs.count() > 0, "grid-16 pairing lost every planted in-group variant")
  }

  test("phashCapAuditAuto: the dense plant audits a grid-16 sketch and releases the probe") {
    // q_cap_audit_phash runs the base plant, which always derives grid 8;
    // the dense plant crosses 8*2^8, so the audit takes the re-hash branch
    val media = MultimodalOps.plantPhashCorpusDense(MultimodalOps.asMedia(sf("documents")))
    val (auto, kept) = persistedBy(MultimodalOps.phashCapAuditAuto(media).collect().toSeq)
    assert(kept.isEmpty, s"the grid-8 probe sketch's blocks were kept: RDDs $kept")
    assert(auto == MultimodalOps.phashCapAudit(media, grid = 16).collect().toSeq)
    assert(auto != MultimodalOps.phashCapAudit(media, grid = 8).collect().toSeq,
      "the grid-8 and grid-16 audits must differ for the comparison to show the grid")
  }
}
