package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("simhashRecallAudit: counts are internally consistent and the ball finds planted truth") {
    // hits are candidates ∩ truth by construction: n_found <= n_truth and
    // n_found <= n_candidates always; on the planted fixture the ball
    // must find a nonzero share of the jac >= 0.8 anchor truth
    val corpus = DedupOps.plantedCorpus(sf("documents"))
    val r = DedupOps.simhashRecallAudit(corpus).collect().head
    val (na, nt, nc, nf, bp, pbp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    assert(na > 0 && nt > 0, s"fixture must yield anchors/truth: $r")
    assert(nf <= nt, s"hits exceed truth: $r")
    assert(nf <= nc, s"hits exceed candidates: $r")
    assert(bp == nf * 10000 / nt, s"recall arithmetic: $r")
    assert(pbp == nf * 10000 / nc, s"precision arithmetic: $r")
    assert(nf > 0, s"ball found none of the planted truth: $r")
  }

  test("simhashVerifiedNearDups: ball candidates survive iff exact jac >= threshold") {
    val corpus = DedupOps.plantedCorpus(sf("documents"))
    val ball = DedupOps.simhashBallPairs(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = DedupOps.simhashVerifiedNearDups(corpus)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty, "verify dropped every planted candidate")
    assert(got.map(r => (r._1, r._2)).toSet.subsetOf(ball),
      "verified pair not among the ball candidates")
    assert(got.forall(_._4 >= 8000L), s"sub-threshold pair survived: $got")
    // the r17 audit measured the raw ball at ~7.5x truth volume — the
    // verify stage must actually remove candidates on this fixture
    assert(got.size < ball.size,
      s"verify filtered nothing (${got.size} of ${ball.size})")
    // every verified pair's jaccard matches an independent exact
    // computation over the two docs' distinct 3-shingle sets
    val texts = corpus.as[(Long, String)].collect().toMap
    def sh(s: String): Set[Seq[String]] = {
      val t = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      t.sliding(3).filter(_.size == 3).toSet
    }
    got.foreach { case (a, b, _, j) =>
      val (sa, sb) = (sh(texts(a)), sh(texts(b)))
      val exact = math.floor(
        sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble * 10000 + 0.5).toLong
      assert(j == exact, s"jac mismatch for ($a,$b): got $j, brute $exact")
    }
  }

  test("plantedCorpus: adds an exact copy per id%10==0 and a near copy per id%10==5") {
    // corpus-derived stride: max id 7 -> step 8 (exact at +8, near at +16)
    val base = docs((0L, "a b c"), (5L, "d e f"), (7L, "g h i"))
    val got = DedupOps.plantedCorpus(base).as[(Long, String)].collect().toMap
    assert(got.keySet == Set(0L, 5L, 7L, 8L, 21L))
    assert(got(8L) == "a b c")
    assert(got(21L) == "d e f graftdup")
  }

  test("plantedQuoteCorpus: adds a 2n/5-token prefix quote per id%10==3") {
    // max id 7 -> step 8, quote family at +3*8
    val base = docs((3L, "a b c d e f g h i j"), (7L, "k l m n o"))
    val got = DedupOps.plantedQuoteCorpus(base).as[(Long, String)].collect().toMap
    assert(got.keySet == Set(3L, 7L, 27L))
    assert(got(27L) == "a b c d") // floor(10 * 2 / 5) = 4 tokens
  }

  test("containmentPairs: catches the quote pair symmetric Jaccard misses") {
    val corpus = docs(
      (1L, "a b c d e f g h i j"), // 8 distinct 3-shingles
      (2L, "a b c d"))             // 2 shingles, both inside doc 1
    val cont = DedupOps.containmentPairs(corpus, thresholdBp = 8000)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // jac = 2/8 = 2500, cont into parent = 2/2 = 10000: containment fires...
    assert(cont == Seq((1L, 2L, 2500L, 2500L, 10000L)))
    // ...where the same-threshold symmetric Jaccard finds nothing
    assert(DedupOps.jaccardPairs(corpus, thresholdBp = 8000).isEmpty)
  }

  test("exactDedup: keeps min id per content group, counts copies") {
    val corpus = docs(
      (1L, "same text here"), (2L, "SAME   text HERE"), (3L, "different"))
    val got = DedupOps.exactDedup(corpus)
      .as[(Long, Long, String)].collect().map(r => (r._1, r._2)).toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("exactDedup is idempotent: dedup of dedup keeps every group") {
    val corpus = DedupOps.plantedCorpus(docs(
      (0L, "w x y z"), (5L, "p q r s"), (9L, "k l m n")))
    val once = DedupOps.exactDedup(corpus)
    val keepers = corpus.join(once.select(col("keep_id").as("doc_id")), "doc_id")
    val twice = DedupOps.exactDedup(keepers)
    assert(twice.count() == once.count())
    assert(twice.agg(max(col("n_copies"))).head().getLong(0) == 1L)
  }

  test("minhashBandPairs: exact copies share all bands; disjoint docs share none") {
    val corpus = docs(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),        // exact copy -> 4/4 bands
      (3L, "alpha beta gamma delta epsilon zeta")) // disjoint -> no pair
    val got = DedupOps.minhashBandPairs(corpus)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L)))
  }

  test("simhash: identical docs share a sketch and group under min id") {
    val corpus = docs(
      (1L, "quick brown fox jumps"), (2L, "quick brown fox jumps"),
      (3L, "entirely unrelated words appear"))
    val got = DedupOps.simhash(corpus)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == got(2L)._1)
    assert(got(2L)._2 == 1L) // doc 2 groups under keeper 1
    assert(got(3L)._2 == 3L)
  }

  test("simhashBallPairs: exactly the brute-force Hamming<=3 pairs (pigeonhole recall)") {
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "completely unrelated content about databases and distributed systems"),
      (5L, "another entirely different document mentioning graphs and clusters"))
    val sketches = DedupOps.simhash(corpus, bits = 32)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- sketches.keys; b <- sketches.keys if a < b
      d = java.lang.Long.bitCount(sketches(a) ^ sketches(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    val got = DedupOps.simhashBallPairs(corpus).as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.contains((1L, 2L, 0L))) // the exact copy
    // the near-copy differs in >0 sketch bits: identical-sketch grouping
    // would miss it whenever ball grouping still finds it
    assert(sketches(1L) != sketches(4L))
  }

  test("jaccardPairs: hand-computed similarity in basis points") {
    // shingles(5 tokens) = 3 per doc; docs differ in last token ->
    // intersection 2, union 4 -> 5000 bp
    val corpus = docs(
      (1L, "a b c d e"),
      (2L, "a b c d f"))
    val got = DedupOps.jaccardPairs(corpus, thresholdBp = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 5000L)))
  }

  test("jaccardPairs: threshold filters, maxDocFreq drops boilerplate shingles") {
    val corpus = docs(
      (1L, "x y z w"), (2L, "x y z w"), (3L, "x y z q"), (4L, "r s t u"))
    val all = DedupOps.jaccardPairs(corpus, thresholdBp = 1)
    assert(all.count() == 3L) // (1,2), (1,3), (2,3)
    val strict = DedupOps.jaccardPairs(corpus, thresholdBp = 10000)
    assert(strict.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 10000L)))
    // shingle "x y z" appears in 3 docs; cutoff at 2 removes it from the
    // index, dropping the pairs glued together only by it
    val cut = DedupOps.jaccardPairs(corpus, thresholdBp = 1, maxDocFreq = 2)
    assert(cut.count() < all.count())
  }

  test("dupSpanPairs: a copied span links dissimilar docs; singles don't") {
    // docs 1 and 2 share a verbatim 16-token run inside otherwise-disjoint
    // text (whole-doc Jaccard is low); docs 3/4 share nothing; doc 5
    // shares only a single 3-gram with doc 1 -> below minShared. The span
    // must be LONG: only windows of w=4 shingles fully inside the shared
    // run select identical fingerprints in both docs, and adjacent windows
    // usually share their minimum — a 7-token span yields just one
    // distinct shared fp (measured), under the >= 2 threshold
    val span = "the quick brown fox jumps over fences while dogs bark " +
      "and cats watch from tall green trees"
    val corpus = docs(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"one two three four $span five six seven eight nine"),
      (3L, "completely different words here entirely"),
      (4L, "another unrelated document text body"),
      (5L, "zeta the quick brown eta theta iota kappa"))
    val got = DedupOps.dupSpanPairs(corpus)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 >= 2L, s"shared-span pair carries too few fps: $got")
    // the whole-doc similarity really is low — the span detector sees
    // what jaccardPairs at the dedup threshold does not
    assert(DedupOps.jaccardPairs(corpus, thresholdBp = 8000).count() == 0L)
  }

  test("hot-bucket cap: oversized LSH buckets are dropped, histogram flags them") {
    // 8 identical boilerplate docs -> every band bucket holds all 8
    val boiler = (1L to 8L).map(i => (i, "alpha beta gamma delta epsilon zeta eta"))
    val corpus = docs(boiler :+ ((100L, "totally different words appear here instead")): _*)
    val unbounded = DedupOps.minhashBandPairs(corpus, maxBucket = 0)
    assert(unbounded.count() == 28L) // C(8,2) pairs, all 4 bands shared
    val capped = DedupOps.minhashBandPairs(corpus, maxBucket = 5)
    assert(capped.count() == 0L) // the hot bucket is skipped, not exploded
    // the cap audit flags the four size-8 band buckets (one per band)
    val audit = DedupOps.minhashCapAudit(corpus, maxBucket = 5).head()
    assert((audit.getAs[Long]("hottest"), audit.getAs[Long]("n_dropped")) == ((8L, 4L)),
      audit.toString)
    // the verified pipeline honors the same cap
    assert(DedupOps.verifiedNearDups(corpus, maxBucket = 5).count() == 0L)
    assert(DedupOps.verifiedNearDups(corpus, maxBucket = 0).count() == 28L)
    // a genuine small dup group passes through an engaged cap untouched
    val mixed = docs(
      (boiler :+ ((100L, "totally different words appear here instead"))
        :+ ((200L, "twin content lives right here now")) :+ ((201L, "twin content lives right here now"))): _*)
    val got = DedupOps.minhashBandPairs(mixed, maxBucket = 5)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((200L, 201L, 4L)))
  }

  test("cap audits: a cap <= 0 means no cap, as in the capped operators") {
    // the same 8-doc boilerplate corpus: 4 size-8 band buckets and 5
    // size-8 shingle postings, none dropped when uncapped
    val boiler = (1L to 8L).map(i => (i, "alpha beta gamma delta epsilon zeta eta"))
    val corpus = docs(boiler :+ ((100L, "totally different words appear here instead")): _*)
    def rollup(r: org.apache.spark.sql.Row) = Seq("n_dropped", "pairs_forgone", "pairs_kept")
      .map(r.getAs[Long])
    assert(rollup(DedupOps.minhashCapAudit(corpus, maxBucket = 0).head()) == Seq(0L, 0L, 112L))
    assert(rollup(DedupOps.jaccardCapAudit(corpus, maxDocFreq = 0).head()) == Seq(0L, 0L, 140L))
    val emb = graft.operators.SimOps.plantedVectors(sf("embeddings"))
    val uncapped = graft.operators.SimOps.nearDupCapAudit(emb, maxBucket = 0).head()
    assert(uncapped == graft.operators.SimOps.nearDupCapAudit(emb, maxBucket = Int.MaxValue).head())
    assert(rollup(uncapped).take(2) == Seq(0L, 0L) && rollup(uncapped)(2) > 0L, uncapped.toString)
  }

  test("minhashErrorAudit audits exactly minhashBandPairs' candidates, capped or not") {
    val corpus = DedupOps.plantedCorpus(sf("documents"))
    for (cap <- Seq(0, 5)) {
      val audited = DedupOps.minhashErrorAudit(corpus, maxBucket = cap)
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
      val paired = DedupOps.minhashBandPairs(corpus, maxBucket = cap)
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
      assert(audited.nonEmpty && audited == paired, s"cap $cap: ${audited.size} vs ${paired.size}")
    }
  }

  test("dedupClusters: transitive chains collapse to the min id") {
    // chain 1-2-3-4 (pairwise links only), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = DedupOps.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedupForget: a tombstoned BRIDGE splits its cluster — the min-id patch would be wrong") {
    // cluster {1,2,3} is held together only by 2 (pairs 1-2, 2-3);
    // deleting 2 must split it into singletons 1 and 3, which a naive
    // "re-elect min(surviving ids) per old cluster" would merge under 1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = DedupOps.dedupForget(pairs, Seq(2L).toDF("doc_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 1L, 0L, 1L), (3L, 1L, 3L, 1L, 1L)),
      s"bridge split wrong: $out")
  }

  test("dedupForget: rep re-election without split; unaffected clusters and tombstones emit no rows") {
    // triangle {1,2,3}: deleting 1 leaves 2-3 connected under new rep 2;
    // cluster {8,9} contains no tombstone so it must NOT appear; the
    // tombstoned doc itself never emits a row
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val out = DedupOps.dedupForget(pairs, Seq(1L).toDF("doc_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((2L, 1L, 2L, 1L, 0L), (3L, 1L, 2L, 1L, 0L)),
      s"re-election wrong: $out")
  }

  test("dedupForget: affected-subgraph closure equals the full recompute (component property)") {
    // three clusters {1,2,3} / {5,6} / {8,9,10-cycle}; tombstones hit 2
    // and 9. The re-derivation runs only over affected-cluster surviving
    // pairs — the 8-10 edge must survive the restriction (both endpoints
    // in an affected cluster, neither tombstoned) and keep {8,10}
    // together, while {5,6} stays out of the output entirely
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 8L))
      .toDF("id_a", "id_b")
    val out = DedupOps.dedupForget(pairs, Seq(2L, 9L).toDF("doc_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 0L, 1L),
      (3L, 1L, 3L, 1L, 1L),
      (8L, 8L, 8L, 0L, 0L),
      (10L, 8L, 8L, 0L, 0L)), s"subgraph closure wrong: $out")
  }

  test("dedupForgetWith: stored before-labels reproduce the recompute path exactly") {
    // the production form: the forward pass's label table is STORED —
    // handing it in must produce byte-identical output to the
    // recompute-everything entry point
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 8L))
      .toDF("id_a", "id_b")
    val tomb = Seq(2L, 9L).toDF("doc_id")
    // materialize the labels like a stored table (no live lineage to pairs)
    val stored = DedupOps.dedupClusters(pairs).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toDF("doc_id", "cluster_id")
    val viaStored = DedupOps.dedupForgetWith(stored, pairs, tomb)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val viaRecompute = DedupOps.dedupForget(pairs, tomb)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(viaStored == viaRecompute, s"stored-labels path diverged: $viaStored")
  }

  test("dedupClusters: 33-node chain converges in O(log n) rounds, one cluster") {
    // a path graph is the worst case for min-label propagation (O(n)
    // rounds); large-star/small-star must collapse it logarithmically
    val n = 33
    val pairs = scala.util.Random.shuffle((1 until n).map(i => (i.toLong, (i + 1).toLong)))
      .toDF("id_a", "id_b")
    val (labels, rounds) = DedupOps.dedupClustersDetailed(pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1L), got.toSeq.sorted.take(10).mkString(","))
    assert(rounds <= 8, s"chain of $n should need ~log2(n) rounds, took $rounds")
  }

  test("keepBest: highest quality wins; ties break to the lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5000L), (2L, 8000L), (3L, 8000L), (7L, 4000L), (8L, 4000L))
      .toDF("doc_id", "quality_bp")
    val got = DedupOps.keepBest(clusters, quality)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: 2 and 3 tie at 8000 -> 2 (lower id) beats the id-1 member
    // on quality; cluster 7: pure tie -> lowest id
    assert(got == Seq((1L, 3L, 2L, 8000L), (7L, 2L, 7L, 4000L)))
  }

  test("incrementalNew: batch docs already in the corpus are filtered out") {
    val existing = docs((1L, "old doc one"), (2L, "old doc two"))
    val batch = docs(
      (10L, "a genuinely new document"),
      (11L, "OLD   doc ONE"))  // same normalized content as existing doc 1
    val got = DedupOps.incrementalNew(batch, existing)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(10L))
  }

  test("contaminated: flags training docs sharing a k-gram with the benchmark") {
    val bench = docs((100L, "the quick brown fox jumps over dogs"))
    val train = docs(
      (1L, "totally unrelated content in this one"),
      // shares "quick brown fox" and "brown fox jumps" (2 distinct 3-grams)
      (2L, "a quick brown fox jumps here"),
      // shares exactly one 3-gram ("fox jumps over")
      (3L, "watch the fox jumps over everything"),
      (4L, "short doc"))
    val got = DedupOps.contaminated(train, bench, k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L), (3L, 1L)))
  }

  test("contaminated: clean corpus yields zero rows; self-check flags everything") {
    val bench = docs((9L, "alpha beta gamma delta"))
    val clean = docs((1L, "epsilon zeta eta theta"))
    assert(DedupOps.contaminated(clean, bench, k = 3).count() == 0)
    // a doc checked against itself is fully contaminated
    val self = DedupOps.contaminated(bench, bench, k = 3)
      .as[(Long, Long)].head()
    assert(self == ((9L, 2L))) // "alpha beta gamma", "beta gamma delta"
  }

  test("verifiedNearDups: candidates verified with exact jaccard, ordered pairs") {
    val corpus = DedupOps.plantedCorpus(docs(
      (0L, "one two three four five six seven"),
      (5L, "eight nine ten eleven twelve thirteen fourteen"),
      (7L, "completely different content entirely here now yes")))
    val got = DedupOps.verifiedNearDups(corpus, thresholdBp = 5000)
      .as[(Long, Long, Long)].collect().toSeq
    // exact copy of doc 0 at 10000 bp; near copy of doc 5 above 5000 bp
    // (max id 7 -> step 8: exact plant at 0+8, near plant at 5+16)
    assert(got.map(p => (p._1, p._2)).contains((0L, 8L)))
    assert(got.find(p => (p._1, p._2) == (0L, 8L)).get._3 == 10000L)
    assert(got.map(p => (p._1, p._2)).contains((5L, 21L)))
  }

  test("hardNegativesText: near-duplicates never emitted; ranks re-pack; scores are the audits' exact Jaccard") {
    // the planted corpus carries exact/near copies of anchor docs at
    // jac_bp >= 8000 — mining must exclude every one (a near-dup labeled
    // "negative" poisons the contrastive loss) while still emitting the
    // merely-similar candidates, ranked contiguously from 1
    val corpus = DedupOps.plantedCorpus(sf("documents"))
    val hn = DedupOps.hardNegativesText(corpus)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(hn.nonEmpty, "no text hard negatives mined")
    assert(hn.forall(_._4 < 8000), s"a near-dup leaked: ${hn.filter(_._4 >= 8000).take(3)}")
    hn.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted == (1 to g.length),
        s"ranks not contiguous for ${g.head._1}: ${g.sortBy(_._2)}")
    }
    // zero-leak is non-vacuous: at least one anchor has a TRUE near-dup
    // candidate (what verifiedNearDups verifies at >= 8000), and that
    // pair is absent from the mined set
    val anchorIds = hn.map(_._1).toSet
    val vp = DedupOps.verifiedNearDups(corpus)
      .as[(Long, Long, Long)].collect().toSeq
    val anchorDups = vp.filter(p => anchorIds.contains(p._1) || anchorIds.contains(p._2))
    assert(anchorDups.nonEmpty,
      "fixture has no anchor-touching near-dup — the exclusion test is vacuous")
    val mined = hn.map(r => (r._1, r._3)).toSet
    anchorDups.foreach { case (a, b, _) =>
      assert(!mined.contains((a, b)) && !mined.contains((b, a)),
        s"verified near-dup ($a,$b) leaked into the negatives")
    }
  }

  test("sourceOverlap: hand-checked cross-source shingle Jaccard") {
    val df = Seq(
      (1L, "a b c d", "s1"), // shingles: {a b c, b c d}
      (2L, "a b c", "s2"), // {a b c}           -> s1 ∩ s2 = 1, union 2
      (3L, "x y z w", "s3")) // {x y z, y z w}   -> disjoint from both
      .toDF("doc_id", "text", "source")
    val got = DedupOps.sourceOverlap(df)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // disjoint pairs produce no row (no common shingle, nothing to join)
    assert(got == Seq(("s1", "s2", 2L, 1L, 1L, 5000L)))
  }

  test("minhashErrorAudit: exact copies have zero error; estimates quantize to eighths") {
    val corpus = docs(
      (1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"), // exact copy
      (3L, "one two three four five six other"))
    val got = DedupOps.minhashErrorAudit(corpus)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val byPair = got.map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // identical docs: all 8 positions agree, exact jaccard 1 — error 0
    assert(byPair((1L, 2L)) == (10000L, 10000L, 0L))
    // 8-hash estimates can only be multiples of 10000/8; error is |est-exact|
    assert(got.forall(r => r._3 % 1250L == 0L))
    assert(got.forall(r => r._5 == math.abs(r._3 - r._4)))
  }

  test("entityMatch: best cross-source match per record within prefix blocks") {
    val df = Seq(
      (1L, "blk1 target text one", "srcA"),
      (2L, "blk1 target text onX", "srcB"), // dist 1 to doc 1
      (3L, "blk1 target text oXe", "srcB"), // dist 1 too -> loses tie on id
      (4L, "blk1 target teXT one", "srcB"), // dist 2
      (5L, "blk1 zzzzzzzzzzzzzzzz", "srcB"), // same block, dist > maxDist
      (6L, "blk2 something else.", "srcC")) // alone in its block
      .toDF("doc_id", "text", "source")
    val got = DedupOps.entityMatch(df, titleLen = 20, blockLen = 4, maxDist = 3)
      .as[(Long, Long, String, String, Long)].collect().toSeq
    // one row: doc 1's best match is doc 2 (min dist, then min id);
    // srcB-srcB pairs are out (same source), 5 is out (maxDist), 6 has
    // no block partner
    assert(got == Seq((1L, 2L, "srcA", "srcB", 1L)))
  }

  test("entityMatch: an edit inside the block prefix loses the pair (blocking recall trade)") {
    val df = Seq(
      (1L, "abcd same tail here", "srcA"),
      (2L, "abcX same tail here", "srcB")) // dist 1 overall, but block differs
      .toDF("doc_id", "text", "source")
    val got = DedupOps.entityMatch(df, titleLen = 19, blockLen = 4, maxDist = 5)
    assert(got.count() == 0L)
  }

  test("jaccardCapAudit: hand-computed drop/keep rollup (no silent caps)") {
    // shingle "a b c" posts in 5 docs (over the cap of 3: dropped, its 10
    // candidate pairs forgone); "x y z" posts in 2 (kept, 1 pair)
    val df = docs(((1L to 5L).map(i => (i, "a b c")) ++
      Seq((10L, "x y z"), (11L, "x y z"))): _*)
    val r = DedupOps.jaccardCapAudit(df, maxDocFreq = 3).head()
    assert(r.getString(0) == "jaccard_postings")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6)) == ((2L, 1L, 5L, 1L, 10L, 5L)))
  }

  test("substringCapAudit: occurrence counting — one doc repeating a gram counts each") {
    // 22 tokens = 3 twenty-grams, all distinct -> no bucket is pairable
    val uniq = (1 to 22).map(i => s"t$i").mkString(" ")
    val r0 = DedupOps.substringCapAudit(docs((1L, uniq)), maxOcc = 2).head()
    assert((r0.getLong(1), r0.getLong(4), r0.getLong(5)) == ((3L, 0L, 0L)))
    // the same 20-gram in 3 docs with occurrence cap 2: dropped, 3 pairs forgone
    val g = (1 to 20).map(i => s"g$i").mkString(" ")
    val r1 = DedupOps.substringCapAudit(
      docs((1L, g), (2L, g), (3L, g)), maxOcc = 2).head()
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(5), r1.getLong(6)) ==
      ((1L, 1L, 3L, 3L)))
  }
}
