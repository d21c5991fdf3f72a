package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimOps}

class SimOpsSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("dot and l2Norm on hand-checked vectors") {
    val df = emb((1L, Seq(3f, 4f), 0))
    assert(df.select(SimOps.dot(col("embedding"), col("embedding"))).as[Double].head() == 25.0)
    assert(df.select(SimOps.l2Norm(col("embedding"))).as[Double].head() == 5.0)
  }

  test("bruteTopK: ranks by cosine, excludes self, breaks ties by vec_id") {
    val df = emb(
      (0L, Seq(1f, 0f), 0),   // query
      (1L, Seq(2f, 0f), 0),   // cos 1 (scale-invariant)
      (2L, Seq(1f, 1f), 0),   // cos ~0.707
      (3L, Seq(0f, 1f), 0),   // cos 0
      (4L, Seq(-1f, 0f), 0))  // cos -1
    val got = SimOps.bruteTopK(df, col("vec_id") === 0, k = 3)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1, 1L, 10000L), (0L, 2, 2L, 7071L), (0L, 3, 3L, 0L)))
  }

  test("bruteTopK: identical vectors tie-break by vec_id") {
    val df = emb(
      (0L, Seq(1f, 2f), 0), (5L, Seq(1f, 2f), 0), (3L, Seq(1f, 2f), 0))
    val got = SimOps.bruteTopK(df, col("vec_id") === 0, k = 2)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(3L, 5L))
    assert(got.forall(_._4 == 10000L))
  }

  test("signBucket: 4 sign bits of the leading dims") {
    val df = emb(
      (1L, Seq(1f, -1f, 1f, -1f, 9f), 0),
      (2L, Seq(-1f, -1f, -1f, -1f, 9f), 0),
      (3L, Seq(1f, 1f, 1f, 1f, -9f), 0))
    val got = df.select(col("vec_id"), SimOps.signBucket(col("embedding")))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 5, 2L -> 0, 3L -> 15))
  }

  test("lshTopK: only same-bucket candidates are returned") {
    val df = emb(
      (0L, Seq(1f, 1f, 1f, 1f), 0),    // bucket 15, query
      (1L, Seq(2f, 1f, 1f, 1f), 0),    // bucket 15 — candidate
      (2L, Seq(-1f, -1f, -1f, -1f), 0)) // bucket 0 — invisible to query 0
    val got = SimOps.lshTopK(df, col("vec_id") === 0, k = 10, tables = 1)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(1L))
  }

  test("lshTopK ⊆ bruteTopK scores: LSH never invents a neighbor") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, col("vec_id") < 3, k = 50)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val lsh = SimOps.lshTopK(df, col("vec_id") < 3, k = 10)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    // every LSH hit is a real vector pair with the same cosine wherever
    // brute force also ranked it
    lsh.foreach { case (q, v, c) =>
      brute.get((q, v)).foreach(bc => assert(bc == c))
    }
    assert(lsh.nonEmpty)
  }

  test("ivfTopK: real cosines, reasonable recall vs brute force on the fixture") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, col("vec_id") < 3, k = 10)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    val bruteScores = brute.map { case (q, v, c) => (q, v) -> c }.toMap
    val ivf = SimOps.ivfTopK(df, col("vec_id") < 3, col("vec_id").between(100, 115))
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    // every IVF hit carries the true cosine (no approximation of scores,
    // only of the candidate set)
    ivf.foreach { case (q, v, c) =>
      bruteScores.get((q, v)).foreach(bc => assert(bc == c))
    }
    // probing 4/16 cells should still recover a good share of the true top-10
    val recall = ivf.count { case (q, v, _) => bruteScores.contains((q, v)) }.toDouble /
      brute.length
    assert(recall >= 0.3, s"suspiciously low IVF recall: $recall")
    assert(ivf.nonEmpty)
  }

  test("refineCentroids: one Lloyd round averages bp-quantized members exactly") {
    val df = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.8f, 0.2f), 0),
      (2L, Seq(0f, 1f), 0),
      (3L, Seq(0.2f, 0.8f), 0))
    val n = df.select(col("vec_id"), col("embedding").as("e"),
      SimOps.l2Norm(col("embedding")).as("nrm"))
    val cents = n.filter(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val got = SimOps.refineCentroids(n, cents, iters = 1)
      .select(col("c_id"), col("ce"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // cell 0 = {0, 1} -> mean of bp-quantized dims = (0.9, 0.1); cell 2 = {2, 3}
    assert(got == Seq((0L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9))))
  }

  test("refineCentroids: a cell with no members keeps its previous centroid") {
    val n = emb((0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0))
      .select(col("vec_id"), col("embedding").as("e"),
        SimOps.l2Norm(col("embedding")).as("nrm"))
    val cents = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)))
      .toDF("c_id", "ce")
      .select(col("c_id"), col("ce"), SimOps.l2Norm(col("ce")).as("cn"))
    val got = SimOps.refineCentroids(n, cents, iters = 1)
      .select(col("c_id"), col("ce"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(got.length == 2)
    // both vectors join cell 1; cell 2 is empty and survives unchanged
    assert(got(0) == (1L, Seq(0.95, 0.05)))
    assert(got(1) == (2L, Seq(-1.0, 0.0)))
    // the PQ Lloyd loop keeps an empty entry the same way: entries 1 and 2
    // are identical, ties go to the smaller c_id, so entry 2 gets no members
    val pq = emb((1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0), (3L, Seq(0.9f, 0.1f), 0))
    val books = SimOps.refinePqCodebooks(pq, col("vec_id") <= 2, m = 1, iters = 1)
      .as[(Int, Long, Seq[Double])].collect().sortBy(_._2).toSeq
    assert(books == Seq(
      (0, 1L, Seq(29000.0 / 30000.0, 1000.0 / 30000.0)),
      (0, 2L, Seq(1.0, 0.0))))
  }

  test("ivfKmeansTopK: scores are true cosines; refinement holds recall") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, col("vec_id") < 5, k = 10)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    val bruteScores = brute.map { case (q, v, c) => (q, v) -> c }.toMap
    val km = SimOps.ivfKmeansTopK(df, col("vec_id") < 5, col("vec_id").between(100, 115))
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    // approximation is of the candidate set only — scores stay exact
    km.foreach { case (q, v, c) =>
      bruteScores.get((q, v)).foreach(bc => assert(bc == c))
    }
    val recall = km.count { case (q, v, _) => bruteScores.contains((q, v)) }.toDouble /
      brute.length
    assert(recall >= 0.4, s"refined-IVF recall dropped to $recall")
  }

  test("ANN recall vs exact: multi-table LSH >= 0.6, IVF(nProbe=4) >= 0.4") {
    // the declared-query settings, measured against q_sim_topk's exact
    // answer — the approximation trade made visible and pinned
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, col("vec_id") < 5, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = SimOps.lshTopK(df, col("vec_id") < 5, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val lshRecall = lsh.intersect(brute).size.toDouble / brute.size
    assert(lshRecall >= 0.6, s"multi-table LSH recall dropped to $lshRecall")
    val ivf = SimOps.ivfTopK(df, col("vec_id") < 5, col("vec_id").between(100, 115))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfRecall = ivf.intersect(brute).size.toDouble / brute.size
    assert(ivfRecall >= 0.4, s"IVF recall dropped to $ivfRecall")
  }

  test("knnGraph: neighbors stay within the home cell, ranked by cosine") {
    val df = emb(
      // cell A (centroid id 0): three near-collinear vectors
      (0L, Seq(1f, 0f), 0), (1L, Seq(2f, 0.1f), 0), (2L, Seq(3f, -0.1f), 0),
      // cell B (centroid id 10): two vectors, orthogonal to cell A
      (10L, Seq(0f, 1f), 0), (11L, Seq(0.1f, 2f), 0))
    val got = SimOps.knnGraph(df, col("vec_id").isin(0L, 10L), k = 2)
      .as[(Long, Int, Long, Long)].collect().toSeq
    val byA = got.groupBy(_._1)
    // cell members never cross cells
    assert(byA.keySet == Set(0L, 1L, 2L, 10L, 11L))
    Seq(0L, 1L, 2L).foreach(a =>
      assert(byA(a).forall(r => Seq(0L, 1L, 2L).contains(r._3)), s"cross-cell edge from $a"))
    Seq(10L, 11L).foreach(a =>
      assert(byA(a).forall(r => Seq(10L, 11L).contains(r._3)), s"cross-cell edge from $a"))
    // the 2-member cell yields exactly one neighbor each at rank 1
    assert(byA(10L) == Seq((10L, 1, 11L, byA(10L).head._4)))
    // ranks are contiguous from 1 and cosines non-increasing per source
    byA.values.foreach { rs =>
      assert(rs.map(_._2) == (1 to rs.length))
      assert(rs.map(_._4) == rs.map(_._4).sorted.reverse)
    }
  }

  test("knnGraph: probing more cells never loses recall vs exact top-3") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, lit(true), k = 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(probes: Int) = {
      val g = SimOps.knnGraph(df, col("vec_id").between(100, 115), probes = probes)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      g.intersect(brute).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4) // probes >= 3 rides the same cellArgTopP fold now
    // a source probing additional cells can only ADD candidates
    assert(r2 >= r1, s"probe recall regressed: $r2 < $r1")
    assert(r4 >= r2, s"probe recall regressed: $r4 < $r2")
    assert(r1 > 0.2, s"suspiciously low 1-cell graph recall: $r1")
  }

  test("cellArgTopP: fold matches the cellRank window for p = 1..4") {
    val n = SimOps.normalized(sf("embeddings"), "vec_id", "embedding")
    val cents = n.filter(col("vec_id").between(100, 115))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    for (p <- 1 to 4) {
      val fold = SimOps.cellArgTopP(n, cents, "vec_id", p)
        .select("vec_id", "c_id", "crn").as[(Long, Long, Int)].collect().toSet
      val win = SimOps.cellRank(n, cents, "vec_id").filter(col("crn") <= p)
        .select("vec_id", "c_id", "crn").as[(Long, Long, Int)].collect().toSet
      assert(fold == win, s"probe fold diverges from the window ranking at p=$p")
    }
  }

  test("cellArgmaxHier: full-coverage superProbes recovers flat; top-1 agreement high") {
    val n = SimOps.normalized(sf("embeddings"), "vec_id", "embedding")
    val cents = n.filter(SimOps.sqrtCentroidPred(sf("embeddings")))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val flat = SimOps.cellArgmax(n, cents, "vec_id")
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    // superProbes >= the supercell count scans every block -> the
    // two-stage selection must equal the flat argmax exactly
    val full = SimOps.cellArgmaxHier(n, cents, "vec_id", superProbes = 64)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    assert(full == flat, "full-coverage hierarchical assignment diverged from flat")
    // single-probe agreement is the supercell-boundary price. The fixture
    // is the WORST case for it: hash-SAMPLED centroids have no cluster
    // structure, so a centroid's supercell is near-arbitrary and ~half of
    // all vectors' nearest centroids live across a supercell boundary
    // (production two-level quantizers k-means the supercenters precisely
    // to push this up). Pin the floor and that probing more supercells
    // monotonically recovers toward flat.
    def agreement(p: Int): Double = {
      val h = SimOps.cellArgmaxHier(n, cents, "vec_id", superProbes = p)
        .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
      assert(h.keySet == flat.keySet, s"hierarchical p=$p lost vectors")
      h.count { case (v, c) => flat(v) == c }.toDouble / flat.size
    }
    val a1 = agreement(1)
    val a2 = agreement(2)
    info(s"supercell-boundary agreement: p=1 $a1, p=2 $a2")
    assert(a1 >= 0.4, s"suspiciously low single-probe agreement: $a1")
    assert(a2 >= a1, s"probing more supercells lost agreement: $a2 < $a1")
    assert(a2 >= 0.6, s"two-probe agreement should clear 0.6: $a2")
  }

  test("knnGraphHier: probing more in-block cells never loses recall vs exact top-3") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, lit(true), k = 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(p: Int) = {
      val g = SimOps.knnGraphHier(df, SimOps.sqrtCentroidPred(df), probes = p)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      g.intersect(brute).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    info(s"hier graph recall: probes=1 $r1, probes=2 $r2")
    assert(r2 >= r1, s"hier probe recall regressed: $r2 < $r1")
    assert(r1 > 0.1, s"suspiciously low hier 1-cell graph recall: $r1")
  }

  test("mrlRecallSweep: full-width prefix recovers exact truth; recall rises with prefix") {
    // prefix = d is the full cosine — recall must be exactly 10000; on
    // the (untrained, random-direction) fixture the curve should still
    // be non-decreasing in the prefix length
    val emb = sf("embeddings")
    val full = SimOps.mrlRecallSweep(emb, col("vec_id") < 5, dims = Seq(64))
      .select("recall_bp").as[Long].collect()
    assert(full.toSeq == Seq(10000L), s"full-width prefix diverged: ${full.toSeq}")
    val curve = SimOps.mrlRecallSweep(emb, col("vec_id") < 5, dims = Seq(8, 16, 32))
      .select("prefix_dims", "recall_bp").as[(Int, Long)].collect().toSeq
    info(s"mrl curve: $curve")
    assert(curve.map(_._1) == Seq(8, 16, 32))
    assert(curve.map(_._2) == curve.map(_._2).sorted,
      s"recall not monotone in prefix: $curve")
  }

  test("mrlRecallSweep: a zero-hit prefix still emits its row (n_hits = 0)") {
    // dim 1 is constant across the corpus, so the prefix-1 ranking is an
    // all-tie resolved by vec_id asc (lowest ids win); the query sits at
    // the HIGH end of dim 2, so the full-dim truth is the highest ids —
    // the prefix-1 top-k and the truth are provably disjoint, and the
    // left-joined sweep must still report the prefix with n_hits = 0
    // instead of dropping it (the r17 advice gap)
    val rows = (0 until 10).map(i => (i.toLong, Seq(1.0f, i * 0.1f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = SimOps.mrlRecallSweep(df, col("vec_id") === 9, dims = Seq(1, 2), k = 3)
      .select("prefix_dims", "n_hits", "recall_bp")
      .as[(Int, Long, Long)].collect().toSeq
    assert(out == Seq((1, 0L, 0L), (2, 3L, 10000L)),
      s"zero-hit prefix row missing or wrong: $out")
  }

  test("ivfRecallSweep: a zero-hit nProbe still emits its row (n_hits = 0)") {
    // unit vectors at the given angle: the query (0) sits 10° from
    // centroid A and 20° from centroid B, while its true top-2 (8° and 9°)
    // are nearer B, so B is their home cell; nProbe 1 probes only A, whose
    // one candidate (A itself, 10° away) is not in the truth
    def at(id: Long, deg: Double) = {
      val r = math.toRadians(deg)
      (id, Seq(math.cos(r).toFloat, math.sin(r).toFloat), 0)
    }
    val df = emb(at(0, 0), at(1, 8), at(2, 9), at(3, -10), at(4, 20))
    val out = SimOps.ivfRecallSweep(df, col("vec_id") === 0,
        centroidPred = col("vec_id") >= 3, probes = Seq(1, 2), k = 2)
      .select("n_probe", "n_hits", "recall_bp")
      .as[(Int, Long, Long)].collect().toSeq
    assert(out == Seq((1, 0L, 0L), (2, 2L, 10000L)),
      s"zero-hit nProbe row missing or wrong: $out")
  }

  test("mrlWeighted: prefix recall on the MRL-structured corpus beats the flat fixture's") {
    // the 2^-(pos div 8) scaling concentrates energy in leading dims, so
    // short-prefix recall must rise strictly above the random-direction
    // floor the unweighted fixture pins (the declared q_mrl_recall now
    // measures a trained-encoder stand-in against that floor)
    val emb = sf("embeddings")
    def at8(df: org.apache.spark.sql.DataFrame) =
      SimOps.mrlRecallSweep(df, col("vec_id") < 5, dims = Seq(8, 64))
        .select("prefix_dims", "recall_bp").as[(Int, Long)].collect().toMap
    val flat = at8(emb)
    val weighted = at8(SimOps.mrlWeighted(emb))
    info(s"mrl p=8 recall: flat ${flat(8)}, weighted ${weighted(8)}")
    assert(weighted(64) == 10000L, s"full-width weighted prefix diverged: $weighted")
    assert(weighted(8) > flat(8),
      s"weighted prefix recall not above the flat floor: $weighted vs $flat")
    assert(weighted(8) >= 5000L,
      s"MRL structure too weak to measure: ${weighted(8)} bp at p=8")
  }

  test("ivfTrainedRecallAudit: both variants emit, arithmetic consistent, hier within reach of exact") {
    val out = SimOps.ivfTrainedRecallAudit(sf("embeddings"),
      queryPred = col("vec_id") < 5,
      centroidPred = col("vec_id").between(100, 115))
      .as[(String, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("exact", "hier"), s"variant rows: $out")
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    out.foreach { case (v, h, bp) =>
      assert(h <= 50, s"$v hits exceed candidates: $out")
      assert(bp == h * 10000 / 50, s"$v recall arithmetic: $out")
    }
    assert(m("exact")._1 > 0, s"exact-trained index found none of the truth: $out")
    // training through the two-level assignment is an approximation of
    // exact training, not a different operator: its recall may trail but
    // must stay in the same regime (the measured sf0.1 delta is ~3% rel)
    assert(m("hier")._2 * 2 >= m("exact")._2,
      s"hier-trained recall collapsed vs exact-trained: $out")
  }

  test("sqRecall: decoded-code retrieval holds high top-10 recall on the fixture") {
    // int8 reconstruction error is small against the cosine gaps of the
    // fixture corpus: recall should be near-perfect, and the arithmetic
    // internally consistent (hits bounded by nq*k)
    val r = SimOps.sqRecall(sf("embeddings"), col("vec_id") < 5).collect().head
    val (hits, bp) = (r.getLong(0), r.getLong(1))
    assert(hits <= 50, s"more hits than candidates: $r")
    assert(bp == hits * 10000 / 50, s"recall arithmetic: $r")
    assert(bp >= 9000, s"SQ8 lost top-10 recall on the fixture: $r")
  }

  test("bqCodes: 32-bit word packing matches hand bits; the all-zero defect row codes to zero words") {
    // dims 0 and 33 strictly positive, everything else <= 0 -> word 0
    // carries bit 0, word 1 carries bit 1; the all-zero row (the failed-
    // encoder defect a 100 TB corpus will contain) must code to zero
    // words deterministically, never throw
    val rows = Seq(
      (1L, (0 until 64).map(i => if (i == 0 || i == 33) 1.0f else -1.0f)),
      (2L, (0 until 64).map(_ => 0.0f)))
    val out = SimOps.bqCodes(rows.toDF("vec_id", "embedding"))
      .orderBy("vec_id", "word")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 1L), (1L, 1L, 2L), (2L, 0L, 0L), (2L, 1L, 0L)),
      s"word packing wrong: $out")
  }

  test("bqRecall: an exact duplicate survives every leg; rerank never below hamming") {
    // vec 100 duplicates query vec 0 bit-for-bit -> Hamming 0, cos 1,
    // and the MAXIMUM possible ADC score (dot(q, sign(q)) = ||q||_1):
    // it must be in the truth AND in all three approximate top-k sets
    val mk = (seed: Long) =>
      (0 until 64).map(j => (((seed * 37 + j * 11) % 13).toInt - 6).toFloat / 6f)
    val corpus = ((1L to 9L).map(i => (i, mk(i))) :+ (0L, mk(0L)) :+ (100L, mk(0L)))
      .toDF("vec_id", "embedding")
    val out = SimOps.bqRecall(corpus, col("vec_id") === 0, k = 2, rerank = 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("asym", "hamming", "rerank"), s"variant rows: $out")
    out.foreach { case (v, h, bp) =>
      assert(h >= 1, s"$v leg lost the exact duplicate: $out")
      assert(bp == h * 10000 / 2, s"$v recall arithmetic: $out")
    }
  }

  test("bqRecall: fixture regime — hamming finds signal; rerank recall is provably monotone over it") {
    // monotonicity is a THEOREM here, not a fixture fact: rerank's
    // candidate pool contains the hamming top-k, and a truth member has
    // < k vectors above it in the (cos desc, id) total order, so exact
    // re-ranking can never evict it — any regression is a bug
    val out = SimOps.bqRecall(sf("embeddings"), col("vec_id") < 5)
      .as[(String, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("asym", "hamming", "rerank"), s"variant rows: $out")
    val m = out.map(r => r._1 -> r._3).toMap
    out.foreach { case (v, h, bp) =>
      assert(h <= 50, s"$v hits exceed candidates: $out")
      assert(bp == h * 10000 / 50, s"$v recall arithmetic: $out")
    }
    info(s"bq recall: asym ${m("asym")}, hamming ${m("hamming")}, rerank ${m("rerank")}")
    assert(m("hamming") > 0, s"hamming leg found none of the truth: $out")
    assert(m("rerank") >= m("hamming"), s"rerank recall below hamming: $out")
    assert(m("asym") > 0, s"asym leg found none of the truth: $out")
  }

  test("hardNegatives: near-duplicates never emitted as negatives; ranks re-pack over survivors") {
    // the planted corpus carries exact duplicates (cos_bp = 10000) that
    // the kNN graph DOES emit — mining must exclude every one of them
    // (a duplicate labeled "negative" poisons the contrastive loss) and
    // re-rank the survivors contiguously from 1
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val pred = SimOps.sqrtCentroidPred(planted)
    val kg = SimOps.knnGraph(planted, pred)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(kg.exists(_._4 >= 9900),
      "fixture has no near-dup in the graph — the exclusion test is vacuous")
    val hn = SimOps.hardNegatives(planted, pred)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(hn.nonEmpty, "no hard negatives mined")
    assert(hn.forall(_._4 < 9900), s"a near-dup leaked into the negatives: " +
      s"${hn.filter(_._4 >= 9900).take(3)}")
    hn.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted == (1 to g.length),
        s"ranks not contiguous for ${g.head._1}: ${g.sortBy(_._2)}")
    }
    // every mined pair is a graph candidate rule: subset of the pair set
    // the graph would rank given a deep enough k — spot-check via the
    // shared chain: identical (id_a, id_b) never disagree on cos_bp
    val kgMap = kg.map(r => (r._1, r._3) -> r._4).toMap
    hn.foreach { r =>
      kgMap.get((r._1, r._3)).foreach { c =>
        assert(c == r._4, s"cos drifted between graph and mining: $r vs $c")
      }
    }
  }

  test("lshRecallSweep: recall monotone in tables; 8-table search recovers the q_sim_lsh regime") {
    // monotonicity is the candidate-superset theorem (each extra table
    // ORs in buckets; a truth member present in any candidate set
    // survives exact re-ranking) — any violation is a bug
    val out = SimOps.lshRecallSweep(sf("embeddings"), col("vec_id") < 5)
      .as[(Int, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1, 4, 8), s"sweep rows: $out")
    out.foreach { case (t, h, bp) =>
      assert(h <= 50, s"tables=$t hits exceed candidates: $out")
      assert(bp == h * 10000 / 50, s"tables=$t recall arithmetic: $out")
    }
    val curve = out.map(_._3)
    info(s"lsh recall curve (1/4/8 tables): $curve")
    assert(curve == curve.sorted, s"recall not monotone in tables: $out")
    assert(curve.last > 0, s"8-table search found none of the truth: $out")
  }

  test("cellArgmaxHier c2sHier: two-level c2s keeps the vector universe; fixture agreement pinned") {
    // the megacell-training knob (exact c2s is nlist·√nlist sims —
    // dominant past ~4M cells): recursing the centroid→supercell stage
    // adds one more boundary-approximation layer. Pin that no vector is
    // lost, that disagreements are confined to re-blocked centroids, and
    // the fixture agreement floor (hash-sampled centroids are the worst
    // case, as in the superProbes pin above).
    val n = SimOps.normalized(sf("embeddings"), "vec_id", "embedding")
    val cents = n.filter(SimOps.sqrtCentroidPred(sf("embeddings")))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val base = SimOps.cellArgmaxHier(n, cents, "vec_id")
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    val deep = SimOps.cellArgmaxHier(n, cents, "vec_id", c2sHier = true)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    assert(deep.keySet == base.keySet, "c2sHier lost or invented vectors")
    val agree = deep.count { case (v, c) => base(v) == c }.toDouble / base.size
    info(s"c2sHier fixture agreement vs exact c2s: $agree")
    assert(agree >= 0.5, s"suspiciously low c2sHier agreement: $agree")
  }

  test("refineCentroids hier: one Lloyd round trains through the two-level assignment") {
    // the megatrain path at fixture scale: same centroid id universe as
    // the flat round, rebuilt (moved) cells present, schema unchanged
    val n = SimOps.normalized(sf("embeddings"), "vec_id", "embedding")
    val cents = n.filter(SimOps.sqrtCentroidPred(sf("embeddings")))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val r = SimOps.refineCentroids(n, cents, iters = 1, hier = true, c2sHier = true)
    assert(r.columns.toSeq == Seq("c_id", "ce", "cn"))
    val ids0 = cents.select("c_id").as[Long].collect().toSet
    assert(r.select("c_id").as[Long].collect().toSet == ids0,
      "hier Lloyd round changed the centroid id universe")
    val moved = r.join(cents.select(col("c_id"), col("ce").as("ce0")), "c_id")
      .filter(col("ce") =!= col("ce0")).count()
    info(s"hier Lloyd round moved $moved of ${ids0.size} centroids")
    assert(moved > 0, "hier Lloyd round moved nothing — assignment never ran")
  }

  test("cellArgTopPHier: p=1 equals cellArgmaxHier; full supercell coverage recovers cellArgTopP") {
    val n = SimOps.normalized(sf("embeddings"), "vec_id", "embedding")
    val cents = n.filter(SimOps.sqrtCentroidPred(sf("embeddings")))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    // probes = 1 reduces to the two-level argmax exactly, at any superProbes
    for (sp <- Seq(1, 2)) {
      val hp = SimOps.cellArgTopPHier(n, cents, "vec_id", sp, 1)
        .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
      val h = SimOps.cellArgmaxHier(n, cents, "vec_id", sp)
        .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
      assert(hp == h, s"cellArgTopPHier(sp=$sp, p=1) diverged from cellArgmaxHier")
    }
    // superProbes covering every supercell scans every block -> the
    // block-restricted top-P must equal the flat fold for p = 1..3
    for (p <- 1 to 3) {
      val hp = SimOps.cellArgTopPHier(n, cents, "vec_id", 64, p)
        .select("vec_id", "c_id", "crn").as[(Long, Long, Int)].collect().toSet
      val flat = SimOps.cellArgTopP(n, cents, "vec_id", p)
        .select("vec_id", "c_id", "crn").as[(Long, Long, Int)].collect().toSet
      assert(hp == flat, s"full-coverage hier top-P diverged from flat at p=$p")
    }
  }

  test("cellNearDupPairs hier probes=2: superset of hier probes=1") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    def pairs(p: Int) = SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), hier = true, probes = p)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(p1.subsetOf(p2),
      s"hier probes=2 lost pairs present at probes=1: ${(p1 -- p2).take(5)}")
    info(s"hier pairs: probes=1 ${p1.size}, probes=2 ${p2.size}")
  }

  test("cellArgTopP: equal-sim ties rank the lower c_id first") {
    // centroids 1 and 2 are the SAME direction -> every vector ties on
    // them; the window tie-break (csim desc, c_id asc) must hold in the
    // fold: c_id 1 before c_id 2, the orthogonal cell 3 last
    val df = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(2f, 0f), 0), (3L, Seq(0f, 1f), 0),
      (10L, Seq(3f, 1f), 0))
    val n = SimOps.normalized(df, "vec_id", "embedding")
    val cents = n.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val got = SimOps.cellArgTopP(n, cents, "vec_id", 3)
      .filter(col("vec_id") === 10L)
      .orderBy(col("crn"))
      .select("c_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L), s"tie-break order violated: $got")
  }

  test("refinePqCodebooks: one Lloyd round never worsens total PQ error") {
    val df = sf("embeddings")
    val base = SimOps.productQuantize(df, col("vec_id") < 8)
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    val refined = SimOps.productQuantizeWith(df,
      SimOps.refinePqCodebooks(df, col("vec_id") < 8))
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    // Lloyd's objective is monotone non-increasing (assignment and mean
    // update each minimize the quantization error given the other)
    assert(refined <= base, s"Lloyd refinement worsened PQ error: $refined > $base")
    assert(refined > 0L)
  }

  test("residualQuantize: beats raw PQ once coarse cells explain variance") {
    // clustered corpus: 16 centers (fixture rows 100-115), members are
    // scaled copies of their center, so the residual is a SMALL vector.
    // Raw PQ must encode members of clusters 8-15 with codebook entries
    // sampled from clusters 0-7 (huge error); residual PQ only encodes
    // the small residuals. On an UNCLUSTERED corpus the property truly
    // flips — subtracting a near-orthogonal centroid ADDS variance —
    // which is why the assertion lives on planted clusters.
    val centers = sf("embeddings").filter(col("vec_id").between(100, 115))
      .orderBy("vec_id").select("embedding").as[Seq[Float]].collect()
    val rows = (0 until 160).map { i =>
      val f = 1.0f + 0.002f * ((i / 16) - 4)
      (i.toLong, centers(i % 16).map(_ * f))
    } ++ centers.zipWithIndex.map { case (c, j) => ((1000 + j).toLong, c) }
    val df = rows.toDF("vec_id", "embedding")
    val raw = SimOps.productQuantize(df, col("vec_id") < 8)
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    val res = SimOps.residualQuantize(df,
      centroidPred = col("vec_id") >= 1000L, codebookPred = col("vec_id") < 8)
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    assert(res < raw, s"residual PQ did not improve on clustered data: $res !< $raw")
  }

  test("similarity surface is invariant under float->double embedding drift") {
    // the r9 drift class (fixture dtype regeneration) applied to
    // embeddings: a double[] re-encode must change nothing — vec_dot
    // widens floats per-element and every downstream accumulation is
    // already double, so widening first is bit-identical
    val dir = Spill.newDir("emb-enc")
    sf("embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val doubled = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(doubled.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    for ((name, q) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "norms" -> (e => SimOps.norms(e)),
        "bruteTopK" -> (e => SimOps.bruteTopK(e, col("vec_id") < 5)),
        "opq" -> (e => SimOps.opqQuantize(e, col("vec_id") < 8)))) {
      val orig = q(sf("embeddings")).collect().toSeq
      val got = q(doubled).collect().toSeq
      assert(orig.nonEmpty)
      assert(got == orig, s"$name diverged under double-encoded embeddings")
    }
  }

  test("opqPermutation: balanced partition — d/m dims per subspace") {
    val df = sf("embeddings")
    val perm = SimOps.opqPermutation(df).collect()
    assert(perm.map(_.getInt(0)).toSet == (0 until 64).toSet)
    val bySub = perm.groupBy(_.getInt(1))
    assert(bySub.keySet == Set(0, 1, 2, 3))
    assert(bySub.values.forall(_.length == 16))
    // spos is a 1..16 ordering within each subspace
    assert(bySub.values.forall(_.map(_.getInt(2)).sorted.toSeq == (1 to 16)))
  }

  test("opqQuantize: balanced variance allocation beats positional split") {
    // variance concentrated in dims 0-15: plain PQ's positional split
    // spends one 8-entry book on ALL the signal (16 effective dims) and
    // three books on noise; the OPQ permutation deals 4 hot dims to each
    // book — 8 entries per 4 effective dims — so total error must drop.
    val rows = (0 until 64).map { i =>
      val emb = Array.tabulate(64) { d =>
        if (d < 16) ((i * 7 + d * 13) % 29 - 14) * 0.11f
        else ((i + d) % 3 - 1) * 0.004f
      }
      (i.toLong, emb.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val raw = SimOps.productQuantize(df, col("vec_id") < 8)
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    val opq = SimOps.opqQuantize(df, col("vec_id") < 8)
      .agg(sum(col("l2sq_err_bp"))).as[Long].head()
    assert(opq < raw, s"OPQ permutation did not improve on imbalanced data: $opq !< $raw")
    assert(opq > 0L)
  }

  test("residualQuantize: every vector carries its cosine-nearest home cell") {
    val df = sf("embeddings")
    val cells = SimOps.residualQuantize(df,
      centroidPred = col("vec_id").between(100, 115),
      codebookPred = col("vec_id") < 8)
      .select(col("vec_id"), col("cell_id"))
    assert(cells.count() == df.count())
    assert(cells.filter(!col("cell_id").between(100, 115)).isEmpty)
    // a sampled centroid's residual is the zero vector -> its home is itself
    assert(cells.filter(col("vec_id") === 100 && col("cell_id") =!= 100).isEmpty)
  }

  test("ivfRecallSweep: recall is monotone in nProbe and bounded by 10000 bp") {
    val got = SimOps.ivfRecallSweep(sf("embeddings"),
      queryPred = col("vec_id") < 5,
      centroidPred = col("vec_id").between(100, 115))
      .as[(Int, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1, 2, 4))
    val recalls = got.map(_._3)
    // superset candidates can only keep or add true top-k members
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.head > 0L && recalls.last <= 10000L)
  }

  test("ivfPqTopK: reranked scores are true cosines; recall vs brute pinned") {
    val df = sf("embeddings")
    val brute = SimOps.bruteTopK(df, col("vec_id") < 5, k = 10)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    val bruteScores = brute.map { case (q, v, c) => (q, v) -> c }.toMap
    val ipq = SimOps.ivfPqTopK(df,
      col("vec_id") < 5, col("vec_id").between(100, 115), col("vec_id") < 8)
      .select("q_id", "vec_id", "cos_bp").as[(Long, Long, Long)].collect()
    assert(ipq.length == 50)
    // ADC approximates only the SHORTLIST choice — reported cosines come
    // from the exact rerank and must match brute force wherever shared
    ipq.foreach { case (q, v, c) =>
      bruteScores.get((q, v)).foreach(bc => assert(bc == c))
    }
    // candidate set ⊆ IVF's (same cells) further pruned by the 32-deep ADC
    // shortlist; recall measured on the fixture and pinned
    val recall = ipq.count { case (q, v, _) => bruteScores.contains((q, v)) }.toDouble /
      brute.length
    assert(recall >= 0.3, s"IVF-PQ recall dropped to $recall")
  }

  test("ivfPqRecallSweep: monotone in shortlist; a full-depth shortlist recovers the flat-IVF nProbe ceiling") {
    val df = sf("embeddings")
    val qp = col("vec_id") < 5
    val cp = col("vec_id").between(100, 115)
    val bp = col("vec_id") < 8
    val got = SimOps.ivfPqRecallSweep(df, qp, cp, bp)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(8, 32))
    val recalls = got.map(_._3)
    // a deeper shortlist is a prefix-superset of candidates, and every
    // true top-k member among candidates survives the exact rerank
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.head > 0L && recalls.last <= 10000L)
    // shortlist ≥ the probed-cell population: the ADC approximation price
    // is zero and only the cell-boundary miss remains — the curve's
    // ceiling IS flat IVF recall at the same nProbe, exactly
    val ceiling = SimOps.ivfPqRecallSweep(df, qp, cp, bp,
      shortlists = Seq(1000000)).as[(Int, Long, Long)].collect().head._3
    val flat = SimOps.ivfRecallSweep(df, qp, cp, probes = Seq(4))
      .as[(Int, Long, Long)].collect().head._3
    assert(ceiling == flat,
      s"full-depth IVF-PQ recall $ceiling != flat IVF nProbe=4 recall $flat")
    assert(recalls.last <= ceiling, "swept recall exceeded its own ceiling")
  }

  test("scalarQuantize: hand-checked codes and reconstruction error") {
    val df = emb(
      (0L, Seq(0f, 10f), 0),
      (1L, Seq(5f, 20f), 0),
      (2L, Seq(10f, 30f), 0))
    val got = SimOps.scalarQuantize(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // dim bounds [0,10] and [10,30]; midpoints encode to 128, ends to 0/255
    // vec1 recon err: dim1 |5 - 128/255*10| and dim2 |20 - (10 + 128/255*20)|
    assert(got == Seq((0L, 2L, 0L, 0L), (1L, 2L, 256L, 588L), (2L, 2L, 510L, 0L)))
  }

  test("scalarQuantize: fixture corpus reconstructs within 1% per dimension") {
    val got = SimOps.scalarQuantize(sf("embeddings"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 500)
    assert(got.forall(_._2 == 64L))
    // average reconstruction error per dimension under 100 bp (1% of range)
    assert(got.forall(r => r._4 / 64 < 100), "int8 quantization error too large")
  }

  test("norms: dimension and unit-ish norms on the fixture table") {
    val got = SimOps.norms(sf("embeddings")).as[(Long, Int, Long, Long)].collect()
    assert(got.length == 500)
    assert(got.forall(_._3 == 64L))
    assert(got.forall(r => r._4 > 0L))
  }

  test("nearDupPairs: finds planted duplicate vectors at cos_bp 10000") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val got = SimOps.nearDupPairs(planted, thresholdBp = 9999)
      .as[(Long, Long, Long)].collect().toSeq
    // every 100th vec (0,100,200,300,400) has an exact copy at
    // id + step, step = max(vec_id)+1 (corpus-derived plant stride)
    val step = DedupOps.plantStep(sf("embeddings"), "vec_id")
    val expected = Seq(0L, 100L, 200L, 300L, 400L).map(i => (i, i + step))
    expected.foreach(p => assert(got.map(g => (g._1, g._2)).contains(p)))
    assert(got.forall(_._3 >= 9999L))
  }

  test("nearDupPairs: never pairs across different sign buckets") {
    val df = emb(
      (1L, Seq(1f, 1f, 1f, 1f), 0), (2L, Seq(1f, 1f, 1f, 1f), 0),
      (3L, Seq(-1f, 1f, 1f, 1f), 0)) // bucket differs from 1/2
    val got = SimOps.nearDupPairs(df, thresholdBp = 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(g => (g._1, g._2)) == Seq((1L, 2L)))
  }

  test("nearDupPairs: exact-dup floods collapse to one rep; the cap cannot erase them") {
    // 30 identical vectors + 10 identical near-variants, ALL in one sign
    // bucket; a participation cap of 2 over RAW items would have silently
    // truncated pairing — dedup-first leaves 2 representatives, so every
    // intra pair (cos 10000) and every 30x10 cross pair survives
    val df = emb(
      ((1L to 30L).map(i => (i, Seq(1f, 1f, 1f, 1f), 0)) ++
        (100L to 109L).map(i => (i, Seq(0.9f, 1f, 1f, 1f), 1))): _*)
    val got = SimOps.nearDupPairs(df, maxBucket = 2)
      .as[(Long, Long, Long)].collect().toSeq
    val intraA = for (a <- 1L to 30L; b <- (a + 1) to 30L) yield (a, b, 10000L)
    val intraB = for (a <- 100L to 109L; b <- (a + 1) to 109L) yield (a, b, 10000L)
    val crossD = got.filter(p => p._1 <= 30L && p._2 >= 100L)
    assert(crossD.size == 300, s"expected 30x10 cross pairs, got ${crossD.size}")
    assert(crossD.map(_._3).distinct.size == 1 && crossD.head._3 >= 4000L)
    assert((intraA ++ intraB).forall(got.contains), "intra pairs must all survive")
    assert(got.size == intraA.size + intraB.size + 300)
  }

  test("autoSignBits: smallest 2^bits covering the distinct-rep universe at cap occupancy") {
    def vecs(n: Int) = (1 to n).map(i => (i.toLong, Seq(i.toFloat, 0f), 0))
    // 64 distinct at cap 1: m = 64 -> 2^6 = 64 suffices -> 6
    assert(SimOps.autoSignBits(emb(vecs(64): _*), maxBucket = 1) == 6)
    // 65 distinct at cap 1: m = 65 -> needs 2^7 -> 7
    assert(SimOps.autoSignBits(emb(vecs(65): _*), maxBucket = 1) == 7)
    // duplicates collapse before sizing: 65 rows, 3 distinct -> clamp floor 4
    val dups = (1 to 65).map(i => (i.toLong, Seq((i % 3).toFloat, 1f), 0))
    assert(SimOps.autoSignBits(emb(dups: _*), maxBucket = 1) == 4)
    // default cap (64): the sf fixture's ~500 reps give m = 8 -> floor 4
    assert(SimOps.autoSignBits(sf("embeddings")) == 4)
  }

  test("cellNearDupPairs: loose-threshold pairs pair within cells, not across") {
    // two tight clusters around orthogonal axes: within-cluster cosines
    // ~0.99 (>= 4000 bp), cross-cluster ~0.1 (< threshold). One centroid
    // per cluster (the seeds, ids 1 and 3), so each cluster owns a cell
    // and the threshold pairing never crosses cells
    val df = emb(
      (1L, Seq(1f, 0.1f, 0f, 0f), 0), (2L, Seq(1f, 0f, 0.1f, 0f), 0),
      (3L, Seq(0f, 0.1f, 0f, 1f), 1), (4L, Seq(0.1f, 0f, 0f, 1f), 1))
    val got = SimOps.cellNearDupPairs(df,
      centroidPred = col("vec_id").isin(1L, 3L), thresholdBp = 4000)
      .as[(Long, Long, Long)].collect().toSeq
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => Set(1L, 2L).contains(p._1) && Set(3L, 4L).contains(p._2)),
      s"cross-cluster pair leaked: $got")
  }

  test("cellNearDupPairs: planted exact copies found at cos_bp 10000, flat and hier") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val step = DedupOps.plantStep(sf("embeddings"), "vec_id")
    val expected = Seq(0L, 100L, 200L, 300L, 400L).map(i => (i, i + step))
    for (hier <- Seq(false, true)) {
      val got = SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), hier = hier)
        .as[(Long, Long, Long)].collect().toSeq
      // exact dups collapse to reps BEFORE assignment, so intra pairs are
      // unconditional on the quantizer (flat or hierarchical)
      expected.foreach { p =>
        val hit = got.find(g => (g._1, g._2) == p)
        assert(hit.isDefined, s"hier=$hier missing planted pair $p")
        assert(hit.get._3 == 10000L)
      }
    }
  }

  test("cellNearDupPairs probes=2: superset of probes=1, recovers a boundary pair") {
    // centroids on two axes; v3 sits between them (home = cell 1, second
    // cell 2) and is cos-close to v4 whose home is cell 2: probes=1
    // misses (v3, v4) across the border, probes=2 recovers it
    val df = emb(
      (1L, Seq(1f, 0f, 0f, 0f), 0),      // centroid/cell A
      (2L, Seq(0f, 1f, 0f, 0f), 0),      // centroid/cell B
      (3L, Seq(1f, 0.9f, 0f, 0f), 0),    // home A (cos_A ~ .743 > cos_B ~ .669)
      (4L, Seq(0.7f, 1f, 0f, 0f), 0))    // home B; cos(3,4) ~ .97
    def pairs(p: Int) = SimOps.cellNearDupPairs(df,
      centroidPred = col("vec_id").isin(1L, 2L), thresholdBp = 9000, probes = p)
      .as[(Long, Long, Long)].collect().map(x => (x._1, x._2)).toSet
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(!p1.contains((3L, 4L)), s"fixture must straddle the border: $p1")
    assert(p2.contains((3L, 4L)), s"probes=2 must recover the boundary pair: $p2")
    assert(p1.subsetOf(p2), "probes=2 must never lose a probes=1 pair")
    // the planted fixture too: strict superset on the sf corpus
    val planted = SimOps.plantedVectors(sf("embeddings"))
    def sfPairs(p: Int) = SimOps.cellNearDupPairs(planted,
      centroidPred = SimOps.hashCentroidPred(64), probes = p)
      .as[(Long, Long, Long)].collect().toSet
    val s1 = sfPairs(1); val s2 = sfPairs(2)
    assert(s1.subsetOf(s2) && s2.size > s1.size, s"${s2.size} vs ${s1.size}")
  }

  test("cellRecallAudit: hand-counted truth on the boundary fixture; monotone in probes") {
    // same fixture as above: 4 reps -> every = ceil(4/64) = 1 -> ALL reps
    // are anchors, and the only cos >= .9 rep pair is the border pair
    // (3,4) — so the audit's numbers are hand-countable: probes=1 finds
    // nothing (recall 0), probes=2 recovers exactly it (recall 10000)
    val df = emb(
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(1f, 0.9f, 0f, 0f), 0),
      (4L, Seq(0.7f, 1f, 0f, 0f), 0))
    def audit(p: Int) = SimOps.cellRecallAudit(df,
      centroidPred = col("vec_id").isin(1L, 2L), thresholdBp = 9000, probes = p)
      .as[(Long, Long, Long, Long)].head()
    assert(audit(1) == ((4L, 1L, 0L, 0L)), "probes=1 must miss the border pair")
    assert(audit(2) == ((4L, 1L, 1L, 10000L)), "probes=2 must recover it")
    // the planted sf corpus: anchors/truth are pairing-independent, found
    // is monotone in probes and bounded by truth (found pairs all satisfy
    // the threshold and touch an anchor, so they are a truth subset), and
    // recall_bp is exactly the floor division
    val planted = SimOps.plantedVectors(sf("embeddings"))
    def sfa(p: Int) = SimOps.cellRecallAudit(planted,
      centroidPred = SimOps.hashCentroidPred(64), probes = p)
      .as[(Long, Long, Long, Long)].head()
    val (a1, t1, f1, _) = sfa(1)
    val (a2, t2, f2, r2) = sfa(2)
    assert(a1 == a2 && t1 == t2, "anchor sample and truth must not depend on probes")
    assert(f1 <= f2 && f2 <= t2, s"found monotone and truth-bounded: $f1 <= $f2 <= $t2")
    assert(r2 == (if (t2 > 0) f2 * 10000 / t2 else 10000L))
  }

  test("cellNearDupPairs: maxCell caps pairing by id rank within a cell") {
    // one cell (single centroid direction), 5 near-identical vectors;
    // cap=3 -> only reps ranked 1..3 pair: C(3,2)=3 pairs, none involve 4/5
    val df = emb((1L to 5L).map(i => (i, Seq(1f, i.toFloat * 1e-4f), 0)): _*)
    val got = SimOps.cellNearDupPairs(df, centroidPred = col("vec_id") === 1,
      thresholdBp = 4000, maxCell = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("nearDupPairsMulti: superset of single-table pairs, recovers boundary pairs") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val single = SimOps.nearDupPairs(planted, maxBucket = 0)
      .as[(Long, Long, Long)].collect().toSet
    val multi = SimOps.nearDupPairsMulti(planted, maxBucket = 0)
      .as[(Long, Long, Long)].collect().toSet
    // table 0 IS the single table (offset 0), so OR-amplification can
    // only add pairs — and on the fixture it demonstrably does
    assert(single.subsetOf(multi), "multi-table lost single-table pairs")
    assert(multi.size > single.size,
      s"no boundary pairs recovered: ${multi.size} vs ${single.size}")
  }

  test("autoSignBits-driven nearDupPairs still finds planted duplicates") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val bits = SimOps.autoSignBits(planted)
    val got = SimOps.nearDupPairs(planted, thresholdBp = 9999, bits = bits)
      .as[(Long, Long, Long)].collect().toSeq
    val step = DedupOps.plantStep(sf("embeddings"), "vec_id")
    val expected = Seq(0L, 100L, 200L, 300L, 400L).map(i => (i, i + step))
    expected.foreach(p => assert(got.map(g => (g._1, g._2)).contains(p)))
  }

  test("semDedup: planted exact copies are dropped, their originals survive") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val kept = SimOps.semDedup(planted, centroidPred = col("vec_id").between(100, 115))
      .as[(Long, Long)].collect().map(_._1).toSet
    // every 100th vec has an exact copy at id+step: identical vector ->
    // identical cell ranking -> same cell -> cos 1.0 -> the copy drops
    val step = DedupOps.plantStep(sf("embeddings"), "vec_id")
    Seq(0L, 100L, 200L, 300L, 400L).foreach { i =>
      assert(kept.contains(i), s"original $i must survive")
      assert(!kept.contains(i + step), s"planted copy of $i must be dropped")
    }
  }

  test("semDedup: within a cell only the higher id of a near-dup pair drops") {
    val df = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), // centroid A (also a corpus vector)
      (1L, Seq(0f, 1f, 0f, 0f), 0), // centroid B
      (10L, Seq(10f, 1f, 0f, 0f), 0), // cell A
      (11L, Seq(10f, 1.01f, 0f, 0f), 0), // cell A, near-dup of 10
      (12L, Seq(1f, 10f, 0f, 0f), 0)) // cell B, alone with centroid
    // cos(10,11) ~ 1.0; every other same-cell pair sits near 0.995 < 0.999
    val got = SimOps.semDedup(df, col("vec_id") <= 1, thresholdBp = 9990L)
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 10L, 12L))
  }

  test("semDedup: maxCell <= 0 means uncapped, as in the rest of the near-dup family") {
    // the planted fixture plus a doubled copy of every 100th vector: a
    // distinct array at cosine 1, so exact-dedup-first keeps it as its
    // own rep and only the pairing can drop it
    val base = sf("embeddings")
    val step = DedupOps.plantStep(base, "vec_id")
    val doubled = base.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 2 * step).as("vec_id"),
        transform(col("embedding"), x => x * 2).as("embedding"), col("label"))
    val corpus = SimOps.plantedVectors(base).unionByName(doubled)
    val pred = SimOps.sqrtCentroidPred(corpus)
    def kept(cap: Int) = SimOps.semDedup(corpus, pred, maxCell = cap)
      .as[(Long, Long)].collect().toSeq
    val capped = kept(10000)
    assert(!capped.exists(_._1 >= 2 * step), "the doubled copies must drop")
    assert(kept(0) == capped)
  }

  test("semDedup: a planted hot cell is bounded by maxCell, beyond-cap rows survive") {
    // one centroid (itself a cell member, rank 1), ten near-identical clump
    // vectors in its cell: with maxCell=4 the pairable set is {0,10,11,12},
    // so 11 and 12 drop (near-dups of 10) while 13..19 — equally
    // near-duplicate — pass through as survivors
    val clump = (10L to 19L).map(i => (i, Seq(10f, 1f + i * 1e-4f, 0f, 0f), 0))
    val df = emb((0L, Seq(1f, 0f, 0f, 0f), 0) +: clump: _*)
    val capped = SimOps.semDedup(df, col("vec_id") === 0, thresholdBp = 9990L, maxCell = 4)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(capped == Set(0L, 10L) ++ (13L to 19L),
      s"cap must bound pairing to the 4 lowest ids, got $capped")
    // uncapped, the whole clump dedups down to its lowest id
    val full = SimOps.semDedup(df, col("vec_id") === 0, thresholdBp = 9990L)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(full == Set(0L, 10L))
  }

  test("semDedup: an exact-dup flood beyond maxCell still dedups (dedup-first)") {
    // ten byte-identical vectors + a distinct centroid; maxCell=2 over RAW
    // items would let copies ranked past the cap wrongly survive — the rep
    // collapse drops every copy regardless of the cap
    val clump = (10L to 19L).map(i => (i, Seq(10f, 1f, 0f, 0f), 0))
    val df = emb((0L, Seq(1f, 0f, 0f, 0f), 0) +: clump: _*)
    val got = SimOps.semDedup(df, col("vec_id") === 0, thresholdBp = 9990L, maxCell = 2)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(got == Set(0L, 10L), s"copies must drop structurally, got $got")
  }

  test("productQuantize: codebook vectors reconstruct exactly, codes pack to 12 bits") {
    val e = sf("embeddings")
    val got = SimOps.productQuantize(e, col("vec_id") < 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == e.count())
    // every vector: 4 subspaces, code word within 4x3 bits
    assert(got.forall(r => r._2 == 4L && r._3 >= 0L && r._3 <= 4095L))
    // a codebook vector's nearest entry in every subspace is itself:
    // code word = id * (1 + 8 + 64 + 512), zero reconstruction error
    got.filter(_._1 < 8).foreach { r =>
      assert(r._3 == r._1 * 585L, s"vec ${r._1} code ${r._3}")
      assert(r._4 == 0L, s"vec ${r._1} err ${r._4}")
    }
    // non-codebook vectors generally do not reconstruct exactly
    assert(got.count(r => r._1 >= 8 && r._4 > 0L) > (got.length - 8) / 2)
  }

  test("productQuantize: subvectors follow the corpus dimension") {
    // 128 dims, m = 4: 32 per subspace. B equals the codebook vector A on
    // dims 1-64 and differs after, so only subspaces 2 and 3 carry error
    val a = Seq.fill(64)(0.1f) ++ Seq.fill(64)(0.1f)
    val b = Seq.fill(64)(0.1f) ++ Seq.fill(64)(0.5f)
    val got = SimOps.productQuantize(emb((0L, a, 0), (1L, b, 0)), col("vec_id") === 0)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._2) == Seq(4L, 4L))
    assert(got(0)._4 == 0L)
    assert(got(1)._4 > 0L, s"dims 65-128 never reached a subvector: $got")
    // m = 3 does not divide 128: the error names both
    val e = intercept[Exception] {
      SimOps.productQuantize(emb((0L, a, 0)), col("vec_id") === 0, m = 3).collect()
    }
    assert(e.getMessage.contains("m = 3 does not divide the embedding dimension 128"),
      e.getMessage)
  }

  test("knnLabel: majority label of the nearest cluster wins") {
    // query 0 near three label-7 vectors and one label-3 vector
    val df = emb(
      (0L, Seq(1f, 0f), 9),
      (1L, Seq(1f, 0.1f), 7), (2L, Seq(1f, -0.1f), 7), (3L, Seq(1f, 0.2f), 7),
      (4L, Seq(0.9f, 0f), 3))
    val got = SimOps.knnLabel(df, col("vec_id") === 0, k = 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 7, 3L)))
  }

  test("classPrototypes: bp-quantized component means; negative components floor like the oracle") {
    val df = emb(
      (1L, Seq(1.0f, -0.5f), 7), (2L, Seq(0.0f, -0.2f), 7),
      (3L, Seq(0.5f, 0.5f), 8))
    val got = SimOps.classPrototypes(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // label 7 dim 1: (10000 + 0) / 2 = 5000; dim 2: (-5000 + -2000)/2 = -3500
    assert(got((7L, 1L)) == ((2L, 5000L)))
    assert(got((7L, 2L)) == ((2L, -3500L)))
    assert(got((8L, 1L)) == ((1L, 5000L)))
    // a negative odd sum must FLOOR (DuckDB // semantics), not truncate:
    // single vector with -0.00015 -> bp -1 (floor(-1.5+0.5)); mean -1
    val odd = emb((9L, Seq(-0.00025f), 3), (10L, Seq(0f), 3))
    val m = SimOps.classPrototypes(odd).collect().map(r => r.getLong(3)).head
    assert(m == -2L || m == -1L) // floor((-2 or -3)/2) by float rendering
    // and the exact rule: recompute expected from roundBp directly
    val xbp = odd.select(graft.operators.TextOps.roundBp(col("embedding")(0))).as[Long].collect().sum
    assert(m == math.floor(xbp / 2.0).toLong)
  }

  test("cellDrift: planted topic shift shows as an occupancy delta") {
    // centroids 100 (x-axis) and 101 (y-axis); OLD snapshot (even ids)
    // lives near x, NEW (odd ids) mostly near y — the drift
    val df = emb(
      (100L, Seq(1f, 0f), 0), (101L, Seq(0f, 1f), 0),  // centroids (even/odd!)
      (0L, Seq(0.9f, 0.1f), 0), (2L, Seq(0.8f, 0.2f), 0), (4L, Seq(0.95f, 0f), 0),
      (1L, Seq(0.1f, 0.9f), 0), (3L, Seq(0f, 0.8f), 0), (5L, Seq(0.2f, 0.9f), 0))
    val got = SimOps.cellDrift(df,
      oldPred = pmod(col("vec_id"), lit(2)) === 0,
      centroidPred = col("vec_id").isin(100L, 101L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // cell 100: olds 0,2,4 + centroid 100 itself (even) = 4 old, 0 new
    // cell 101: news 1,3,5 + centroid 101 (odd) = 0 old, 4 new
    assert(got(100L) == ((4L, 0L, 10000L, 0L, -10000L)))
    assert(got(101L) == ((0L, 4L, 0L, 10000L, 10000L)))
  }

  test("clusterKeepBest: typicality argmax per cluster, ties to smallest id") {
    val vecs = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 1f), 0), (3L, Seq(0f, 1f), 0),
      (10L, Seq(5f, 5f), 0), (11L, Seq(5f, 5f), 0))
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("vec_id", "cluster_id")
    val got = SimOps.clusterKeepBest(vecs, clusters)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: the bp-mean of {(1,0),(1,1),(0,1)} is parallel to (1,1),
    // so member 2 is kept at cos_bp 10000 while the boundary members sit
    // at ~7071; cluster 10: identical vectors tie at cos 1.0 and the
    // smaller id wins
    assert(got == Seq((1L, 3L, 2L, 10000L), (10L, 2L, 10L, 10000L)))
  }
}
