package graft.operators

import graft.Checkpoints

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — north-star
  * extension; the reference has no second dataset to compare, let alone
  * vectors (SURVEY §2.2).
  *
  * All arithmetic is double-precision, element-sequential (`zip_with` +
  * `aggregate` fold left-to-right), which DuckDB's `list_dot_product` over
  * `DOUBLE[]` reproduces bit-for-bit — so cosine scores and the rankings
  * derived from them hash-compare across engines. No UDFs anywhere.
  *
  * Scale shapes:
  *  - [[bruteTopK]] is O(candidates x queries) with the query side
  *    broadcast: the right baseline when the query set is small (every
  *    executor streams its candidate partition once; no shuffle of the
  *    candidate table at all). Norms are computed once per row BEFORE the
  *    join, not per pair.
  *  - [[lshTopK]] buckets both sides by the sign pattern of the leading
  *    dimensions (axis-aligned random-hyperplane LSH): the join becomes
  *    equi on the bucket key, so candidate fan-out per query is the bucket
  *    population, not the corpus. Recall loss is the standard LSH trade —
  *    near-neighbors on a bucket boundary (a near-zero leading dim) can
  *    land apart; more tables (OR of several sign-slices) buys recall.
  *    At 100 TB this is the only shape that survives; brute force stays as
  *    the per-bucket kernel.
  */
object SimOps {

  /** Hard bound on how many members of one IVF cell participate in
    * [[semDedup]] pairing — [[DedupOps.DefaultMaxBucket]]'s rule applied to
    * cells, so a hot cell costs at most `DefaultMaxCell²` comparisons. At
    * sf0.1 every cell is far below this; the cap exists for the k-means
    * clump failure mode at scale.
    */
  val DefaultMaxCell = 256

  /** Encoders of the swept key lists ([[recallSweep]]). */
  private implicit val intKeys: Encoder[Int] = Encoders.scalaInt
  private implicit val stringKeys: Encoder[String] = Encoders.STRING

  /** Sequential double dot product — the codegen'd [[graft.functions.VecDot]]
    * kernel (registered by `GraftExtensions`). Bit-identical to [[dotHof]];
    * the kernel stays inside whole-stage codegen while higher-order
    * functions force interpreted evaluation with a boxed intermediate array
    * per row.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** NULL-safe cosine for the assignment folds: NULL — the documented
    * dropped-row contract — instead of an ANSI divide-by-zero CRASH when
    * either norm is 0. A 100 TB corpus WILL contain zero-norm embeddings
    * (all-zero rows from a failed encoder are a standard data defect);
    * under `spark.sql.ansi.enabled` a plain `/` kills the whole job on
    * the first one. NULL never passes a `>` test, so zero-norm vectors
    * fall through every fold slot and the trailing `c_id >= 0` /
    * `isNotNull` filters drop them — exactly the NULL-embedding path.
    */
  private def cosSim(ea: Column, eb: Column, na: Column, nb: Column): Column =
    when(na * nb =!= 0.0, dot(ea, eb) / (na * nb))

  /** The built-ins-only formulation (`zip_with` + left fold) — kept as the
    * reference implementation [[dot]] is equivalence-tested against, and as
    * the fallback for sessions without GraftExtensions.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** (vec_id, emb, norm) — norms precomputed once per row. The embedding
    * stays `array<float>`: VecDot casts elements in its loop, so a
    * `transform(_.cast("double"))` here would only allocate a second array
    * per row for identical arithmetic.
    */
  private[graft] def normalized(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb.select(
      col(idCol),
      col(embCol).as("e"),
      l2Norm(col(embCol)).as("nrm"))

  /** IVF coarse-quantizer centroids (c_id, ce, cn): the `centroidPred`
    * rows of a [[normalized]] frame. */
  private def centroids(n: DataFrame, centroidPred: Column, idCol: String): DataFrame =
    n.filter(centroidPred)
      .select(col(idCol).as("c_id"), col("e").as("ce"), col("nrm").as("cn"))

  /** The query side every search shares: the `queryPred` rows of a
    * [[normalized]] frame as (q_id, qe, qn), then any `extra` columns. */
  private def querySide(n: DataFrame, queryPred: Column, idCol: String, extra: Column*): DataFrame =
    n.filter(queryPred)
      .select(Seq(col(idCol).as("q_id"), col("e").as("qe"), col("nrm").as("qn")) ++ extra: _*)

  /** (q_id, idCol, cos): the exact cosine of each query row ([[querySide]]
    * columns) against its joined candidate (`e`, `nrm`). */
  private def queryCos(pairs: DataFrame, idCol: String): DataFrame =
    pairs.select(col("q_id"), col(idCol),
      (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))

  /** Brute-force cosine top-k: every candidate scored against every query
    * vector (queries broadcast), `row_number` per query over
    * (cosine desc, vec_id). Output: (q_id, rank, vec_id, cos_bp).
    */
  def bruteTopK(
      emb: DataFrame,
      queryPred: Column,
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val pairs = n.crossJoin(broadcast(querySide(n, queryPred, idCol)))
      .filter(col(idCol) =!= col("q_id"))
    rankTopK(queryCos(pairs, idCol), k, "q_id", idCol)
  }

  /** The recall rollup every ANN sweep shares: one count of the query set
    * (which must be non-empty — recall_bp divides by it), one
    * [[bruteTopK]] truth, and per swept key the `variant` top-k
    * (q_id, idCol) joined against it. Every swept key emits its row, a
    * key with no hits at n_hits = 0: the key list is unioned into the hit
    * rows before the count, which costs no join — a left join onto the
    * key list would add a shuffle and a broadcast per sweep.
    * recall_bp is exact integer: (hits · 10⁴) div (|queries| · k).
    *
    * Scale shape: the truth is per-QUERY work (queries broadcast), and
    * each variant's result is k·|queries| rows, so the join and the
    * rollup are metadata-sized.
    *
    * Output: (keyCol, n_hits, recall_bp) ordered by keyCol; with
    * `keyCol = None` one (n_hits, recall_bp) row over the single variant.
    */
  private def recallSweep[T: Encoder](
      op: String,
      emb: DataFrame,
      queryPred: Column,
      k: Int,
      idCol: String,
      embCol: String,
      keyCol: Option[String],
      keys: Seq[T])(variant: T => DataFrame): DataFrame = {
    require(keys.nonEmpty, s"$op: empty sweep")
    val nq = emb.filter(queryPred).count()
    require(nq > 0, s"$op: queryPred selects no rows — " +
      "recall_bp would divide by zero in the generated SQL")
    val truth = bruteTopK(emb, queryPred, k, idCol, embCol)
      .select(col("q_id"), col(idCol))
    val recallBp = expr(s"(n_hits * 10000) div ${nq * k}")
    keyCol match {
      case None =>
        variant(keys.head).select(col("q_id"), col(idCol))
          .join(truth, Seq("q_id", idCol))
          .agg(count(lit(1)).as("n_hits"))
          .withColumn("recall_bp", recallBp)
      case Some(key) =>
        keys.map { v =>
          variant(v).select(lit(v).as(key), col("q_id"), col(idCol))
        }.reduce(_ unionByName _)
          .join(truth, Seq("q_id", idCol))
          .select(col(key), lit(1).as("hit"))
          .unionByName(emb.sparkSession.createDataset(keys).toDF(key)
            .select(col(key), lit(null).cast("int").as("hit")))
          .groupBy(col(key))
          .agg(count(col("hit")).as("n_hits"))
          .withColumn("recall_bp", recallBp)
          .orderBy(col(key))
    }
  }

  /** Recall@k of the IVF index ([[ivfTopK]]) against exact brute force,
    * swept over nProbe — the knob an ANN deployment tunes. Monotone in
    * nProbe: a broader probe's candidates are a superset, and a true top-k
    * member among them survives the exact re-rank (spec-pinned).
    * Rollup: [[recallSweep]]. Output: (n_probe, n_hits, recall_bp).
    */
  def ivfRecallSweep(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      probes: Seq[Int] = Seq(1, 2, 4),
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    recallSweep("ivfRecallSweep", emb, queryPred, k, idCol, embCol,
        Some("n_probe"), probes) { np =>
      ivfTopK(emb, queryPred, centroidPred, k, np, idCol, embCol)
    }
  }

  /** Recall@k of hier IVF SEARCH ([[ivfTopK]] with `hier = true`) against
    * exact brute force, swept over superProbes at a fixed nProbe — the
    * supercell-boundary price of the two-level quantizer's corpus
    * assignment, the curve a user tuning the hier index for serving reads.
    * Rollup: [[recallSweep]]. Output: (super_probes, n_hits, recall_bp).
    */
  def ivfRecallSweepHier(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      superProbesSeq: Seq[Int] = Seq(1, 2),
      nProbe: Int = 4,
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    recallSweep("ivfRecallSweepHier", emb, queryPred, k, idCol, embCol,
        Some("super_probes"), superProbesSeq) { sp =>
      ivfTopK(emb, queryPred, centroidPred, k, nProbe, idCol, embCol,
        hier = true, superProbes = sp)
    }

  /** MATRYOSHKA (truncated-dimension) retrieval recall sweep — the
    * serving-cost lever every MRL-style embedding pipeline tunes: score
    * top-k by cosine over only the FIRST `p` dimensions against the
    * full-dimension brute-force truth, for each prefix length in `dims`.
    * Prefix retrieval cuts both storage and per-candidate FLOPs by
    * d/p (an 8-of-64 prefix is an 8× cheaper first pass) and is the
    * standard coarse stage before full-dimension re-ranking; this sweep
    * is the declared quality/cost curve for choosing `p` — the
    * [[ivfRecallSweepHier]] shape with the knob being dimensions instead
    * of probes. Both sides rank (cos desc, id asc), so the number is the
    * pure truncation price. Rollup: [[recallSweep]] (a zero-hit prefix
    * still emits its row). Output: (prefix_dims, n_hits, recall_bp).
    */
  def mrlRecallSweep(
      emb: DataFrame,
      queryPred: Column,
      dims: Seq[Int] = Seq(4, 8, 16, 32),
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    recallSweep("mrlRecallSweep", emb, queryPred, k, idCol, embCol,
        Some("prefix_dims"), dims) { p =>
      bruteTopK(
        emb.select(col(idCol), slice(col(embCol), 1, p).as(embCol)),
        queryPred, k, idCol, embCol)
    }

  /** Matryoshka-STRUCTURED embedding transform — a deterministic stand-in
    * for an MRL-trained encoder (Kusupati et al. 2022: training packs
    * coarse-to-fine information so any prefix is itself a usable
    * embedding). Each dimension is scaled by 2^-(pos div blockDims):
    * leading dims carry geometrically more energy, so the full-dimension
    * cosine is dominated by the prefix and [[mrlRecallSweep]] measures a
    * real curve instead of the random-direction ~p/d floor the flat
    * fixture pins it to (the OPQ fixture's variance-imbalance trick
    * applied to prefixes). Every scale factor is a power of two — the
    * multiply is exact in IEEE double on both engines, so downstream
    * rankings hash-match DuckDB.
    */
  def mrlWeighted(
      emb: DataFrame,
      blockDims: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val d = embDim(emb, embCol)
    val nb = (d + blockDims - 1) / blockDims
    require(nb <= 62, s"mrlWeighted: $nb blocks exceeds the exact 2^-b range")
    val w = array((0 until nb).map(b => lit(1.0 / (1L << b).toDouble)): _*)
    emb.select(col(idCol),
      transform(col(embCol).cast("array<double>"), (x, i) =>
        x * element_at(w,
          floor(i.cast("double") / lit(blockDims.toDouble)).cast("int") + 1))
        .as(embCol))
  }

  /** Retrieval recall of SQ8 scalar quantization — the quality side of
    * [[scalarQuantize]]'s 4× compression (its declared query reports
    * reconstruction error; a vector store cares whether top-k SURVIVES
    * the codes): top-k by cosine over the DECODED int8 vectors
    * (lo + code/255·span per dimension, exactly the quantizer's
    * reconstruction) against the full-precision brute-force truth.
    * Bounds are corpus min/max (exact), codes integer-exact, decode one
    * affine map — both engines produce bit-identical doubles, so the
    * ranking (cos desc, id) hash-matches. Rollup: [[recallSweep]], keyless.
    * Output (one row): (n_hits, recall_bp).
    */
  def sqRecall(
      emb: DataFrame,
      queryPred: Column,
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // the SAME bounds/code/decode chain the quantizer runs ([[sqCodes]] —
    // shared so the audit cannot drift from what it claims to measure)
    val decoded = sqCodes(emb, idCol, embCol)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("dx")))).as("pv"))
      .select(col(idCol), transform(col("pv"), p => p.getField("dx")).as(embCol))
    recallSweep("sqRecall", emb, queryPred, k, idCol, embCol, None, Seq("sq8")) { _ =>
      bruteTopK(decoded, queryPred, k, idCol, embCol)
    }
  }

  /** TRAINED-index recall audit — the quality receipt for training
    * THROUGH the two-level assignment ([[cellArgmaxHier]] inside
    * [[refineCentroids]]`(hier = true)`, the megacell-training path):
    * the same centroid seeds are Lloyd-refined twice — once with exact
    * assignment, once with hier — and each trained index is probed
    * IDENTICALLY (exact flat probe at `nProbe`), so the per-variant
    * recall against one brute-force truth prices the TRAINING-side
    * approximation alone (the search-side price is
    * [[ivfRecallSweepHier]]'s curve; SKEW_scale.txt, round 18, "megacell
    * TRAINING quality + convergence" has this audit at the √N-seed scale
    * plus the c2s-hier variant). Rollup: [[recallSweep]].
    * Output: (variant, n_hits, recall_bp), variants 'exact' and 'hier'.
    */
  def ivfTrainedRecallAudit(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      k: Int = 10,
      nProbe: Int = 4,
      iters: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents0 = centroids(n, centroidPred, idCol)
    recallSweep("ivfTrainedRecallAudit", emb, queryPred, k, idCol, embCol,
        Some("variant"), Seq("exact", "hier")) { label =>
      ivfProbe(n, refineCentroids(n, cents0, iters, idCol, hier = label == "hier"),
        queryPred, k, nProbe, idCol)
    }
  }

  /** Binary (1-bit sign) quantization codes — the coarse pre-filter a
    * production vector store runs before any float math touches a
    * candidate (Faiss `IndexBinaryFlat` / pgvector `bit` BQ: 32× smaller
    * than float32, Hamming distance tracks angle on centered data). Each
    * dimension contributes one bit (strictly `x > 0`, so the all-zero
    * defect row codes to all-zero words deterministically); bits pack 32
    * per BIGINT word keyed `(id, word)`. The word layout is load-bearing
    * twice: a single 64-bit word would put dim 63 in the sign bit, which
    * DuckDB's range-checked `<<` REJECTS (`1::BIGINT << 63` raises
    * Out of Range — measured), and per-word rows generalize past 64 dims
    * with no schema change. Output: (idCol, word, code), ⌈d/32⌉ rows per
    * vector — pure integers end to end, so the cross-engine comparison
    * needs no IEEE reasoning at all.
    */
  def bqCodes(
      emb: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol),
        posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col(idCol), expr("pos div 32").as("word"))
      .agg(expr("bit_or(CASE WHEN x > 0.0D THEN shiftleft(1L, pos % 32) " +
        "ELSE 0L END)").as("code"))

  /** Retrieval recall of binary quantization — the quality side of
    * [[bqCodes]]'s 32× compression, measured in ALL THREE standard
    * serving modes: the symmetric Hamming top-k ('hamming', query and
    * corpus both binary), the ASYMMETRIC distance ('asym', FAISS's ADC:
    * the float query scored against the ±1 decode of each corpus code —
    * dot(q, sign(c)); the corpus-side sign vector has constant norm √d,
    * so the dot IS the cosine order — keeping the query un-quantized
    * recovers recall the symmetric pass loses), and the production
    * two-stage ('rerank': Hamming keeps `rerank` candidates, exact float
    * cosine re-ranks to k — the BQ + rescore pipeline every binary index
    * ships behind). Hamming ties are broken by id (distances are small
    * integers over a large corpus, so ties are the NORM, not an edge
    * case — deterministic order is what makes the ranking
    * oracle-comparable); sign decode uses the strict `x > 0` bit rule of
    * [[bqCodes]] so code and decode agree. Rollup: [[recallSweep]].
    *
    * Scale shape: the hamming leg scans the 32×-compressed code table
    * (integer XOR/popcount, no floats); the asym leg is one ±1-decode
    * projection + the broadcast-query dot scan (ADC's real cost shape:
    * corpus-linear but float); queries broadcast throughout (per-query
    * work like [[bruteTopK]], never per-corpus-pair); the re-rank leg
    * touches only `rerank · |queries|` float rows — metadata-sized.
    * Output: (variant, n_hits, recall_bp), ordered by variant.
    */
  def bqRecall(
      emb: DataFrame,
      queryPred: Column,
      k: Int = 10,
      rerank: Int = 40,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"bqRecall: rerank pool $rerank < k $k")
    val codes = bqCodes(emb, idCol, embCol)
    val qCodes = codes.filter(queryPred)
      .select(col(idCol).as("q_id"), col("word"), col("code").as("qcode"))
    val ham = codes.join(broadcast(qCodes), Seq("word"))
      .filter(col(idCol) =!= col("q_id"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(expr("bit_count(code ^ qcode)").cast("long")).as("ham"))
    val hw = Window.partitionBy(col("q_id")).orderBy(col("ham"), col(idCol))
    val ranked = ham.withColumn("rnk", row_number().over(hw))
    val hamTop = ranked.filter(col("rnk") <= k).select(col("q_id"), col(idCol))
    val n = normalized(emb, idCol, embCol)
    val qv = querySide(n, queryPred, idCol)
    val rescored = queryCos(ranked.filter(col("rnk") <= rerank)
      .select(col("q_id"), col(idCol))
      .join(n, Seq(idCol))
      .join(broadcast(qv), Seq("q_id")), idCol)
    val rw = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col(idCol))
    val rerTop = rescored.withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col(idCol))
    // ADC: float query against the ±1 decode (bqCodes' strict x > 0 bit
    // rule); both sides cast to double so the fold matches the oracle's
    // DOUBLE[] list_dot_product bit-for-bit. NOTE the corpus × queries
    // crossJoin is the honest ADC cost SHAPE at this fixed 5-query
    // fixture; a production ADC pass rides the probed-cells restriction
    // exactly like [[ivfPqTopK]] (whose end-to-end recall is declared by
    // [[ivfPqRecallSweep]] / q_recall_audit_ivfpq) — candidates bounded
    // by the coarse quantizer, never all-pairs
    val adc = n
      .select(col(idCol),
        transform(col("e").cast("array<double>"),
          x => when(x > 0.0, lit(1.0)).otherwise(lit(-1.0))).as("sv"))
      .crossJoin(broadcast(qv.select(col("q_id"),
        col("qe").cast("array<double>").as("qd"))))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), dot(col("qd"), col("sv")).as("s"))
    val aw = Window.partitionBy(col("q_id")).orderBy(col("s").desc, col(idCol))
    val asymTop = adc.withColumn("rnk", row_number().over(aw))
      .filter(col("rnk") <= k)
    val variants = Map("hamming" -> hamTop, "rerank" -> rerTop, "asym" -> asymTop)
    recallSweep("bqRecall", emb, queryPred, k, idCol, embCol,
      Some("variant"), Seq("hamming", "rerank", "asym"))(variants)
  }

  /** Recall@k of multi-table sign-LSH search ([[lshTopK]]) vs brute
    * force, swept over the TABLE COUNT — the recall-per-table knob an
    * LSH deployment tunes (each extra table ORs in another sign-slice's
    * buckets; the last ANN leg that had no declared recall audit).
    * Recall is provably monotone in `tables`: a wider OR's candidate set
    * is a superset, and a true top-k member present in any candidate set
    * survives its exact re-ranking (fewer than k vectors beat it in the
    * (cos desc, id) total order — [[ivfRecallSweep]]'s argument,
    * spec-pinned). Rollup: [[recallSweep]]. Output:
    * (n_tables, n_hits, recall_bp), ordered by n_tables.
    */
  def lshRecallSweep(
      emb: DataFrame,
      queryPred: Column,
      tableSweep: Seq[Int] = Seq(1, 4, 8),
      k: Int = 10,
      bits: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    recallSweep("lshRecallSweep", emb, queryPred, k, idCol, embCol,
        Some("n_tables"), tableSweep) { t =>
      lshTopK(emb, queryPred, k, bits, t, idCol, embCol)
    }

  /** Recall@k of the full IVF-PQ composition ([[ivfPqTopK]]) vs brute
    * force, swept over the SHORTLIST depth at fixed nProbe — the
    * end-to-end audit of THE production serving shape (every other leg:
    * flat/hier/trained IVF, cells, sign-LSH tables, MinHash, SimHash,
    * SQ8, MRL, BQ, already declares a recall number; this is the
    * composition a 100 TB deployment actually runs). The sweep calls the
    * DECLARED operator itself per value — the audit measures
    * `ivfPqTopK`, not a re-derivation of its stages — so shortlist is
    * the only thing that moves between rows.
    *
    * Recall is provably monotone in `shortlist`: the shortlist is a
    * prefix of the (adc_bp desc, id) total order, so a deeper cut's
    * candidate set is a superset, and every true top-k member in a
    * candidate set survives the exact rerank (all of true-top-k ∩
    * candidates sorts before any non-member under (cos desc, id) — the
    * [[bqRecall]] rerank-dominates-hamming theorem). Corollary, spec-
    * pinned: at shortlist ≥ the probed-cell population the curve equals
    * [[ivfRecallSweep]] at the same nProbe — the PQ approximation price
    * goes to zero and only the cell-boundary miss remains.
    *
    * Rollup: [[recallSweep]]. Output: (shortlist, n_hits, recall_bp).
    */
  def ivfPqRecallSweep(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      codebookPred: Column,
      shortlists: Seq[Int] = Seq(8, 32),
      k: Int = 10,
      nProbe: Int = 4,
      m: Int = 4,
      pqIters: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    recallSweep("ivfPqRecallSweep", emb, queryPred, k, idCol, embCol,
        Some("shortlist"), shortlists) { sl =>
      ivfPqTopK(emb, queryPred, centroidPred, codebookPred, k, nProbe, m,
        shortlist = sl, pqIters = pqIters, coarseIters = 0,
        idCol = idCol, embCol = embCol)
    }

  /** Bucket id from the sign bits of `bits` dimensions starting at
    * `offset` — axis-aligned hyperplane LSH for cosine similarity.
    */
  def signBucket(embCol: Column, bits: Int = 4, offset: Int = 0): Column =
    (0 until bits)
      .map(i => when(element_at(embCol, offset + i + 1) >= 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** CORPUS-SIZED sign-bucket width for [[nearDupPairs]] — the
    * [[sqrtCentroidPred]] discipline applied to the LSH key space, closing
    * the last fixed-key-space knob a user had to turn by hand: one
    * distinct-count action over the raw embedding column (the DISTINCT-rep
    * universe the exact-dedup-first pairing actually buckets), then the
    * smallest `bits` in [4, 16] whose 2^bits key space holds the reps at
    * ≤ `maxBucket` expected occupancy — i.e. 2^bits ≥ ⌈reps / maxBucket⌉,
    * so the participation cap goes IDLE in expectation and the forgone
    * share stays roughly flat as the corpus grows (key space ∝ corpus,
    * exactly [[ivfTopK]]'s nlist ∝ N rule; the reference's one tunable is
    * the same idea — `chunkSize` tracks input size, `Client.java:21`).
    *
    * The rule is integer-only — `bits = bitLength(⌈reps/maxBucket⌉ − 1)`
    * clamped to [4, 16] — never a float `log2` whose last bit could differ
    * cross-engine at exact powers of two; [[autoSignBitsSql]] emits the
    * equivalent integer compare ladder for DuckDB. The 16 clamp keeps the
    * bucket id far inside an int and inside the 64-dim test embeddings;
    * a wider production corpus raises the clamp with its embedding dim
    * (signBucket reads one dimension per bit).
    */
  def autoSignBits(
      emb: DataFrame,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      embCol: String = "embedding"): Int = {
    val reps = emb.select(col(embCol)).distinct().count()
    val m = (reps + maxBucket - 1) / maxBucket
    val b = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, m - 1))
    math.min(16, math.max(4, b.toInt))
  }

  /** DuckDB scalar subquery matching [[autoSignBits]]: `fromSql` must be a
    * relation holding the SAME corpus the Spark side counted. Emits
    * `(SELECT CASE … END AS b FROM (SELECT ⌈count(DISTINCT emb)/cap⌉ AS m …))`
    * — the integer compare ladder equivalent of the clamped bitLength.
    */
  def autoSignBitsSql(
      fromSql: String,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      embCol: String = "embedding"): String = {
    val ladder = (15 to 4 by -1)
      .map(k => s"WHEN m > ${1L << k} THEN ${k + 1}")
      .mkString(" ")
    s"(SELECT (CASE $ladder ELSE 4 END) AS b FROM " +
      s"(SELECT ((count(DISTINCT $embCol) + ${maxBucket - 1}) // $maxBucket) AS m " +
      s"FROM $fromSql))"
  }

  /** Embedding dimensionality, read once from a single row — the corpus
    * tables are fixed-width (a ragged production corpus is broken upstream
    * of any LSH). Feeds [[nearDupPairsMulti]]'s derived table count
    * (`tables = ⌊dim / bits⌋`: every dimension hashes exactly once) and
    * its `tables·bits ≤ dim` guard, so no caller bakes in a literal 64.
    */
  def embDim(emb: DataFrame, embCol: String = "embedding"): Int = {
    val h = emb.select(size(col(embCol)).as("d")).limit(1).collect()
    require(h.nonEmpty, s"embDim: embedding frame is empty — cannot derive dim from '$embCol'")
    h(0).getInt(0)
  }

  /** DuckDB scalar-subquery mirror of [[embDim]] (max() for determinism —
    * all rows agree on a fixed-width corpus).
    */
  def embDimSql(fromSql: String, embCol: String = "embedding"): String =
    s"(SELECT max(len($embCol)) FROM $fromSql)"

  /** DuckDB bucket expression matching [[signBucket]] over a DOUBLE-list
    * column `eSql` with a RUNTIME bit count `bitsSql` (a scalar or scalar
    * subquery): Σ over i ∈ [1, bits] of (e[i] ≥ 0) · 2^(i−1), via
    * `list_transform(range(…))` so the term count follows the derived
    * width instead of being baked into the SQL text.
    */
  def signBucketSql(eSql: String, bitsSql: String): String =
    s"list_sum(list_transform(range(1, ($bitsSql) + 1), " +
      s"i -> CASE WHEN $eSql[i] >= 0 THEN (1 << (i - 1)) ELSE 0 END))"

  /** Multi-table LSH cosine top-k: `tables` independent sign-bucket tables
    * (table t hashes dims [t·bits, (t+1)·bits)); queries meet candidates
    * sharing ANY table's bucket, and duplicate collisions collapse before
    * ranking. Same output shape as [[bruteTopK]]; approximate by design.
    *
    * Recall is governed by the table count: a true neighbor colliding with
    * probability p per table survives 1-(1-p)^tables overall. Measured on
    * the 64-dim test embeddings (5 queries, k=10, vs [[bruteTopK]]), 4-bit
    * tables: 1 → 0.16, 2 → 0.30, 4 → 0.52, 8 → 0.66, 16 → 0.96
    * (SimOpsSpec pins ≥ 0.6 at the default 8).
    *
    * Scale shape: the query side is broadcast, so the corpus side streams
    * through the hash join with NO shuffle at all — the explode multiplies
    * rows `tables`-fold in the map stage only (CPU, never IO), and the only
    * exchange in the plan is the final per-query rank. At 100 TB this is
    * the shape that survives; [[bruteTopK]] stays the per-bucket kernel.
    */
  def lshTopK(
      emb: DataFrame,
      queryPred: Column,
      k: Int = 10,
      bits: Int = 4,
      tables: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val tableKeys = array((0 until tables).map { t =>
      concat_ws(":", lit(t), signBucket(col("e"), bits, offset = t * bits))
    }: _*)
    val nk = n.select(col(idCol), col("e"), col("nrm"), explode(tableKeys).as("tb"))
    val q = querySide(nk, queryPred, idCol, col("tb"))
    val pairs = queryCos(nk.join(broadcast(q), "tb")
      .filter(col(idCol) =!= col("q_id")), idCol)
      // a pair colliding in several tables appears once per collision —
      // collapse before ranking (cos is identical on every copy)
      .groupBy(col("q_id"), col(idCol))
      .agg(min(col("cos")).as("cos"))
    rankTopK(pairs, k, "q_id", idCol)
  }

  /** IVF-style ANN: a coarse quantizer of sampled centroid vectors; every
    * vector is assigned to its nearest centroid (one broadcast pass), and a
    * query probes only the vectors in its `nProbe` nearest cells — the
    * candidate set shrinks from the corpus to ~nProbe/C of it.
    *
    * Centroids here are a fixed id-range SAMPLE of the corpus (random-
    * sample init is a standard coarse-quantizer baseline and keeps the
    * DuckDB oracle exact); [[ivfKmeansTopK]] is the production variant that
    * Lloyd-refines them first. Scale: assignment is
    * O(N*C) with C broadcastable (thousands), probing is an equi-join on
    * cell id — no all-pairs anywhere.
    *
    * Measured recall vs [[bruteTopK]] on the 64-dim test embeddings
    * (5 queries, k=10, 16 sampled centroids): nProbe 2 → 0.26, 4 → 0.50,
    * 8 → 0.78 (SimOpsSpec pins ≥ 0.4 at the declared nProbe=4).
    */
  def ivfTopK(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      k: Int = 10,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      hier: Boolean = false,
      superProbes: Int = 1): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents = centroids(n, centroidPred, idCol)
    ivfProbe(n, cents, queryPred, k, nProbe, idCol, hier, superProbes)
  }

  /** Every vector scored against every centroid (centroids broadcast),
    * ranked per vector by (cosine desc, c_id): `crn = 1` is the vector's
    * home cell, `crn <= nProbe` are a query's probe cells. NULL
    * similarities (NULL embedding/element) are filtered before ranking,
    * so a vector ranks only among its non-NULL cells and a vector with
    * no non-NULL similarity emits nothing — the SAME degenerate-row
    * contract as [[cellArgmax]] and [[cellArgTopP]]: every assignment
    * path agrees on such rows regardless of the probes setting.
    */
  private[graft] def cellRank(n: DataFrame, cents: DataFrame, idCol: String): DataFrame = {
    val byCell = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("c_id"))
    n.crossJoin(broadcast(cents))
      .select(col(idCol), col("e"), col("nrm"),
        col("c_id"), cosSim(col("e"), col("ce"), col("nrm"), col("cn")).as("csim"))
      .filter(col("csim").isNotNull)
      .withColumn("crn", row_number().over(byCell))
  }

  /** Nearest-cell assignment (the `crn == 1` slice of [[cellRank]]) as a
    * per-ROW argmax fold over the broadcast centroid ARRAY — no row
    * explosion at all: the centroid table collapses to ONE row holding its
    * [[centArray]], broadcast onto every vector row, and [[argmaxFold]]
    * folds it keeping the best (csim, c_id) — strict `>` so ties keep the
    * earliest (lowest) c_id, exactly the window's (csim desc, c_id asc)
    * selection. The window path materializes and
    * SHUFFLES every (vector, centroid) row with its embedding for the
    * per-vector sort — O(N·nlist) rows, i.e. O(N²/perCell) under
    * occupancy-preserving nlist (measured 23.5 s at ×100: SKEW_scale.txt,
    * round 12, "knnGraph OCCUPANCY-PRESERVING nlist");
    * an aggregation-operator argmax (`max_by`) hits ObjectHashAggregate's
    * sort-based fallback on the same exploded stream and OOMs. This shape
    * does the identical FLOPs with zero extra rows and no shuffle beyond
    * the one-row broadcast. Beyond ~1M centroids the broadcast array is
    * the limit — the point where production IVF switches to a hierarchical
    * coarse quantizer. [[cellRank]] remains for genuine multi-probe
    * ranking, applied to the (small, filtered) QUERY side only.
    *
    * Degenerate rows: a NULL similarity never wins the fold (`NULL > acc`
    * is NULL → `when` keeps the accumulator), so a vector whose every
    * similarity is NULL keeps c = −1 and the trailing `c_id >= 0` filter
    * drops it — the same contract [[cellRank]] and [[cellArgTopP]]
    * enforce by filtering NULL sims: all assignment paths agree on
    * degenerate rows regardless of the probes setting.
    */
  private[graft] def cellArgmax(n: DataFrame, cents: DataFrame, idCol: String): DataFrame =
    n.crossJoin(broadcast(cents.agg(centArray)))
      .select(col(idCol), col("e"), col("nrm"), argmaxFold(acc => acc("c")).as("c_id"))
      .filter(col("c_id") >= 0)

  /** The c_id-sorted array `cs` of (c_id, ce, cn) structs every fold scans:
    * one row per group of the centroid frame it aggregates. */
  private def centArray: Column =
    sort_array(collect_list(struct(col("c_id"), col("ce"), col("cn")))).as("cs")

  /** The argmax fold of [[cellArgmax]] and [[cellArgmaxHier]] over the row's
    * [[centArray]] `cs`: the best (s, c) = (cosine, c_id) under a strict
    * `>`, so ties keep the earliest (lowest) c_id and a row with no finite
    * similarity keeps c = −1; `finish` maps the final (s, c) struct. */
  private def argmaxFold(finish: Column => Column): Column =
    aggregate(col("cs"),
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("c")),
      (acc, c) => {
        val s = cosSim(col("e"), c("ce"), col("nrm"), c("cn"))
        when(s > acc("s"), struct(s.as("s"), c("c_id").as("c"))).otherwise(acc)
      },
      finish)

  /** The supercenter stride per = max(2, ⌈√nlist⌉) — the one rule the
    * batch two-level quantizer ([[superCents]]) and the streaming
    * snapshots (`StreamingOps.centSnapshotHier`, `hierStreamIndex`) share. */
  private[graft] def superStride(nlist: Long): Long =
    math.max(2L, math.ceil(math.sqrt(nlist.toDouble)).toLong)

  /** DISTRIBUTED √nlist supercenter stride — a centroid is a supercenter
    * iff `hash60(c_id) % per == 0` (per = [[superStride]] of `nlist`: the
    * [[sqrtCentroidPred]] discipline applied to the centroid id space, a
    * stateless per-row predicate), OR it carries the minimum c_id — the
    * deterministic non-empty guard (the hash stride selects ≈nlist/per
    * supercenters in EXPECTATION; at fixture-scale nlist an all-miss has
    * real probability, and an empty supercenter set would drop every
    * vector). Replaces the r17 global unpartitioned `row_number()` rank:
    * that was a single-task sort of all nlist id rows — acceptable at 8M
    * (~64 MB through one task), not at the 1B cells a true 100 TB corpus
    * sizes to. Cost here is one min() over 8-byte keys (1-row broadcast
    * back) and a map-side filter. Mirrored verbatim in the DuckDB
    * oracles and `StreamingOps.centSnapshotHier`; `StreamingOps.hierStreamIndex`
    * calls it. Output: the selected rows of `cents`, its columns unchanged.
    */
  private[graft] def superCents(cents: DataFrame, nlist: Long): DataFrame = {
    val minId = cents.groupBy().agg(min(col("c_id")).as("mn"))
    cents.crossJoin(broadcast(minId))
      .filter(
        graft.functions.StableHash.hash60(col("c_id").cast("string")) % superStride(nlist) === 0 ||
          col("c_id") === col("mn"))
      .drop("mn")
  }

  /** The supercell-block build both two-level assignments share
    * ([[cellArgmaxHier]], [[cellArgTopPHier]]; they differ only in the
    * per-block fold): nlist → [[superCents]] →
    * each centroid's home supercell (c2s) → per-supercell c_id-sorted
    * BLOCKS (sc_id, cs) → each vector's `superProbes` nearest supercells
    * (vsup), shuffle-joined to their blocks. Output: (sc_id, idCol, e,
    * nrm, cs), one row per (vector, scanned supercell).
    */
  private def superBlocks(
      n: DataFrame,
      cents: DataFrame,
      idCol: String,
      superProbes: Int,
      c2sHier: Boolean = false): DataFrame = {
    val sup = superCents(cents, cents.count())
    // each centroid's home supercell — exact argmax over the supercenter
    // set. "Cheap" stops being true past ~1M cells: the stage is
    // nlist·√nlist sims (measured DOMINANT at nlist=8M — 1259.9 s,
    // SKEW r16), so `c2sHier` recurses ONE level — the centroids
    // themselves assign through a two-level scan over ∜nlist
    // super-supercenters, nlist·~2∜nlist sims. The price is one more
    // supercell-boundary approximation layer (a centroid near a
    // super-supercell boundary can land in a different BLOCK than exact
    // c2s gives it — vector assignments then differ only where the
    // vector's best in-block cell changes; fixture agreement spec-pinned).
    // Declared queries keep the exact stage: c2sHier is the
    // megacell-training knob (refineCentroids; SKEW_scale.txt, round 17,
    // "megacells TRAINING + two-level c2s"), not a default.
    val c2sN = cents.select(
      col("c_id").as("cid0"), col("ce").as("e"), col("cn").as("nrm"))
    val c2s = (if (c2sHier) cellArgmaxHier(c2sN, sup, "cid0")
      else cellArgmax(c2sN, sup, "cid0"))
      .select(col("cid0"), col("c_id").as("sc_id"))
    val blocks = cents.join(c2s, col("c_id") === col("cid0"))
      .groupBy(col("sc_id"))
      .agg(centArray)
    val vsup = (if (superProbes == 1) cellArgmax(n, sup, idCol)
      else cellArgTopP(n, sup, idCol, superProbes))
      .select(col(idCol), col("e"), col("nrm"), col("c_id").as("sc_id"))
    // SHUFFLE join, never broadcast: blocks carries the ENTIRE nlist·d
    // centroid payload (√nlist rows of √nlist-entry arrays) — broadcasting
    // it would ship the same bytes the flat fold's array does, re-creating
    // the exact memory wall this path exists to outgrow. Hash-exchanging
    // both sides on sc_id instead means each task materializes only its
    // supercells' blocks: per-task memory is O(√nlist·d), matching the
    // compute bound. The hint pins ShuffledHashJoin so AQE cannot demote
    // to broadcast at test scale (PlanBudgetSpec pins bcast on the blocks
    // side at 0); blocks is √nlist rows, so the exchange itself is cheap,
    // and the vsup side's exchange is the one corpus shuffle the two-level
    // design pays for unbounded nlist.
    vsup.join(blocks.hint("shuffle_hash"), "sc_id")
  }

  /** TWO-LEVEL (hierarchical) coarse-quantizer assignment — the design
    * [[cellArgmax]]'s scaladoc names as the path past its ~1M-centroid
    * broadcast-array limit, made real through the same fold machinery
    * ([[argmaxFold]]): the [[superCents]] stride of centroids (≈ nlist/per
    * of them at per = [[superStride]] — deterministic, never empty,
    * oracle-mirrorable) become SUPERCELL centers; each centroid folds over
    * the small supercenter array to find its home supercell ([[cellArgmax]], exact); the centroids regroup into
    * per-supercell BLOCKS (≈ √nlist-sized sorted arrays); and each
    * corpus vector folds over the supercenter array, SHUFFLE-joins its
    * supercell's block on sc_id, and folds over THAT — ~2·√nlist
    * similarity evaluations per row instead of nlist, the only broadcast
    * anywhere the √nlist-entry supercenter array, and per-task memory
    * O(√nlist·d): each task hash-builds only the blocks landing in its
    * sc_id partition (1M centroids → a ~1k-entry supercenter broadcast +
    * ~1k 1k-entry blocks SPREAD across tasks, where the flat array would
    * be ~GBs ON EVERY executor — measured: the nlist=1M row of
    * SKEW_scale.txt, round 16, "megacells",
    * where the flat fold's single collected array fails the driver and
    * hier completes). `superProbes` > 1 scans that many
    * nearest supercells' blocks and keeps the best cell across them
    * ((csim desc, c_id) over ≤ superProbes candidates — a window over
    * superProbes rows per vector, not nlist).
    *
    * The price is the standard hierarchical-IVF approximation: with
    * `superProbes` = 1 a vector whose true nearest centroid lives in a
    * DIFFERENT supercell than its nearest supercenter gets its best
    * in-block cell instead (SimOpsSpec pins the fixture agreement rate
    * and that `superProbes` covering every supercell recovers
    * [[cellArgmax]] exactly). Degenerate rows follow the uniform
    * NULL-sim contract: dropped everywhere.
    */
  private[graft] def cellArgmaxHier(
      n: DataFrame,
      cents: DataFrame,
      idCol: String,
      superProbes: Int = 1,
      c2sHier: Boolean = false): DataFrame = {
    val scored = superBlocks(n, cents, idCol, superProbes, c2sHier)
      .select(col(idCol), col("e"), col("nrm"), argmaxFold(acc => acc).as("best"))
      .filter(col("best.c") >= 0)
    if (superProbes == 1)
      scored.select(col(idCol), col("e"), col("nrm"), col("best.c").as("c_id"))
    else {
      val wv = Window.partitionBy(col(idCol))
        .orderBy(col("best.s").desc, col("best.c"))
      scored.withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
        .select(col(idCol), col("e"), col("nrm"), col("best.c").as("c_id"))
    }
  }

  /** [[knnGraph]] with the hierarchical coarse quantizer
    * ([[cellArgmaxHier]]; [[cellArgTopPHier]] when `probes` > 1) doing
    * cell assignment — the variant that carries the IVF family past the
    * flat fold's ~1M-centroid broadcast limit. Pairing, ranking, and
    * output shape are identical to [[knnGraph]]; only the assignment
    * stage differs (and with it the documented supercell-boundary
    * approximation, priced by `superProbes`; `probes` is the
    * cell-boundary recall knob, same contract as [[knnGraph]]'s).
    */
  def knnGraphHier(
      emb: DataFrame,
      centroidPred: Column,
      k: Int = 3,
      superProbes: Int = 1,
      probes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    rankTopK(knnCellPairs(emb, centroidPred, probes, idCol, embCol, hier = true, superProbes),
      k, "id_a", "id_b")

  /** IVF probe phase shared by the sampled and k-means-refined quantizers:
    * assign every vector to its nearest cell, probe each query's `nProbe`
    * nearest cells ([[probedCandidates]]), brute-force only within the
    * probed cells.
    */
  private[graft] def ivfProbe(
      n: DataFrame,
      cents: DataFrame,
      queryPred: Column,
      k: Int,
      nProbe: Int,
      idCol: String,
      hier: Boolean = false,
      superProbes: Int = 1): DataFrame = {
    val pairs = probedCandidates(n, cents, queryPred, nProbe, idCol, hier, superProbes)
      .join(broadcast(querySide(n, queryPred, idCol)), "q_id")
    rankTopK(queryCos(pairs, idCol), k, "q_id", idCol)
  }

  /** The IVF candidate stage of [[ivfProbe]] and [[ivfPqTopK]]: every
    * vector assigned to its nearest cell, met by each query's `nProbe`
    * nearest cells. Output: (c_id, q_id, idCol, e, nrm), one row per
    * (query, vector in a probed cell), the query itself left out.
    */
  private def probedCandidates(
      n: DataFrame,
      cents: DataFrame,
      queryPred: Column,
      nProbe: Int,
      idCol: String,
      hier: Boolean = false,
      superProbes: Int = 1): DataFrame = {
    // every vector lives in exactly its nearest cell (argmax, no window;
    // the two-level quantizer when `hier` — corpus assignment is the
    // side that hits the flat broadcast limit, the query probe ranking
    // below stays exact over the FILTERED query side)...
    val assigned = (if (hier) cellArgmaxHier(n, cents, idCol, superProbes)
      else cellArgmax(n, cents, idCol))
    // ...and each query ranks its nProbe nearest cells — a window over the
    // FILTERED query side only, never the corpus
    val probes = cellRank(n.filter(queryPred), cents, idCol)
      .filter(col("crn") <= nProbe)
      .select(col(idCol).as("q_id"), col("c_id"))
    probes.join(assigned, "c_id").filter(col(idCol) =!= col("q_id"))
  }

  /** Lloyd (k-means) refinement of an IVF coarse quantizer — `iters`
    * assign-then-average rounds over the whole corpus.
    *
    * Determinism is the hard part: a naive `avg(dim)` sums doubles in
    * partition order, so Spark's own result varies run to run and can never
    * hash-match DuckDB. Instead each dimension is quantized to integer basis
    * points (`floor(x*1e4+0.5)`, [[TextOps.roundBp]] semantics) and summed
    * as longs — exact, commutative, order-independent — then the centroid
    * dimension is the single double division `sum_bp / (count*1e4)`. Both
    * engines compute identical integers and identical one-step divisions,
    * so refined centroids (and everything downstream: cell assignment,
    * probing, final ranking) stay bit-comparable.
    *
    * Scale shape per iteration: one broadcast assignment pass (O(N*C), no
    * shuffle of the corpus), one posexplode to (cell, dim) — dims-fold map
    * fan-out, never a collect — and a hash aggregation whose key space is
    * C x dims (thousands), tiny by construction. Empty cells keep their
    * previous centroid (left join + coalesce).
    */
  def refineCentroids(
      n: DataFrame,
      cents: DataFrame,
      iters: Int = 1,
      idCol: String = "vec_id",
      hier: Boolean = false,
      c2sHier: Boolean = false): DataFrame = {
    var c = cents
    for (_ <- 0 until iters) {
      // `hier` swaps the in-loop assignment for the two-level quantizer
      // (with `c2sHier` additionally two-leveling the centroid→supercell
      // stage) — the megacell-TRAINING path: nothing else about the Lloyd
      // update changes, so the fixture-scale declared queries (hier=false)
      // are untouched while nlist ≥ 1M trains (SKEW_scale.txt, round 17,
      // "megacells TRAINING + two-level c2s")
      val assigned = (if (hier) cellArgmaxHier(n, c, idCol, c2sHier = c2sHier)
        else cellArgmax(n, c, idCol))
      val rebuilt = bpMean(assigned, Seq("c_id"), "e")
        .select(col("c_id"), col("ce"), l2Norm(col("ce")).as("cn"))
      c = keepPrevious(c, rebuilt, Seq("c_id"), Seq("ce", "cn"))
    }
    c
  }

  /** The integer-exact mean vector of each `keys` group of `rows` — the
    * one bp mean of [[refineCentroids]], [[refinePqCodebooks]] and
    * [[clusterKeepBest]]: every element of `vec` quantized to basis points
    * ([[TextOps.roundBp]]), summed as longs per (keys, pos), then one
    * double division `sum / (count·10⁴)` per dimension, gathered in pos
    * order. Output: (keys…, ce).
    */
  private def bpMean(rows: DataFrame, keys: Seq[String], vec: String): DataFrame = {
    val k = keys.map(col)
    rows.select(k :+ posexplode(transform(col(vec), x => TextOps.roundBp(x))): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(sum(col("col")).as("sm"), count(lit(1)).as("cnt"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("sm").cast("double") / (col("cnt") * lit(10000.0))).as("v")))).as("pv"))
      .select(k :+ transform(col("pv"), p => p.getField("v")).as("ce"): _*)
  }

  /** Lloyd's empty-cell rule, the one both Lloyd loops ([[refineCentroids]],
    * [[refinePqCodebooks]]) apply: an entry of `prev` that attracted no
    * members keeps its previous `vals` (left join onto `rebuilt` by `keys`,
    * then `coalesce` per value column). */
  private def keepPrevious(
      prev: DataFrame, rebuilt: DataFrame, keys: Seq[String], vals: Seq[String]): DataFrame =
    prev.select(keys.map(col) ++ vals.map(v => col(v).as(s"${v}_prev")): _*)
      .join(rebuilt, keys, "left")
      .select(keys.map(col) ++ vals.map(v => coalesce(col(v), col(s"${v}_prev")).as(v)): _*)

  /** IVF with a k-means-refined coarse quantizer: the sampled centroids of
    * [[ivfTopK]] are Lloyd-refined ([[refineCentroids]]) before the probe
    * phase — the production IVF shape (sampled init is only the seed).
    * Output shape and determinism guarantees match [[ivfTopK]].
    */
  def ivfKmeansTopK(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      k: Int = 10,
      nProbe: Int = 4,
      iters: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents0 = centroids(n, centroidPred, idCol)
    ivfProbe(n, refineCentroids(n, cents0, iters, idCol), queryPred, k, nProbe, idCol)
  }

  /** Occupancy-preserving centroid selection — the IVF sizing discipline
    * for the cell-QUADRATIC operators ([[knnGraph]], [[semDedup]]): a
    * vector is a centroid iff `hash60(id) % perCell == 0`, so the expected
    * centroid count is n/perCell and expected cell occupancy stays a
    * CONSTANT (`perCell`) as the corpus grows — exactly how production IVF
    * sizes nlist (nlist ∝ N), with no count pass, no global sort, and a
    * deterministic, engine-mirrorable rule ([[hashCentroidPredSql]]).
    * Measured (SKEW_scale.txt, round 11, "knnGraph occupancy growth
    * law"): a FIXED 16-cell set at
    * ×100 data is a ~10,000× pair blowup (O(Σ cell²) with occupancy
    * ×100); occupancy-preserving sizing holds the same run to ~12× wall.
    */
  def hashCentroidPred(perCell: Long = 64, idCol: String = "vec_id"): Column =
    graft.functions.StableHash.hash60(col(idCol).cast("string")) % perCell === 0

  /** DuckDB predicate fragment matching [[hashCentroidPred]]. */
  def hashCentroidPredSql(perCell: Long = 64, idCol: String = "vec_id"): String =
    s"${graft.functions.StableHash.hash60Sql(s"CAST($idCol AS VARCHAR)")} % $perCell = 0"

  /** √N-OCCUPANCY centroid sizing — the faiss guideline (nlist ∝ √N) and
    * the cost-balanced optimum for the cell-quadratic operators: with
    * nlist cells, assignment costs O(N·nlist) similarity evaluations and
    * in-cell pairing O(N·perCell) = O(N²/nlist), so total work minimizes
    * at nlist ≈ √N — O(N^1.5) — where CONSTANT occupancy (nlist = N/64)
    * leaves assignment quadratic (O(N²/64), the measured residual after
    * the [[cellArgmax]] shuffle fix: SKEW_scale.txt, round 12, "knnGraph
    * OCCUPANCY-PRESERVING nlist"). One count()
    * action derives perCell = max(4, ⌈√N⌉); the predicate itself stays
    * the deterministic id-hash rule, so the oracle reproduces it from the
    * same corpus ([[sqrtCentroidPredSql]]).
    */
  def sqrtCentroidPred(emb: DataFrame, idCol: String = "vec_id"): Column = {
    val n = emb.count()
    hashCentroidPred(math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong), idCol)
  }

  /** DuckDB predicate fragment matching [[sqrtCentroidPred]]: `fromSql`
    * must be a relation (table or CTE name) holding the SAME corpus the
    * Spark side counted.
    */
  def sqrtCentroidPredSql(fromSql: String, idCol: String = "vec_id"): String =
    s"${graft.functions.StableHash.hash60Sql(s"CAST($idCol AS VARCHAR)")} % " +
      s"greatest(4, CAST(ceil(sqrt((SELECT count(*) FROM $fromSql))) AS BIGINT)) = 0"

  /** [[cellArgmax]] generalized to the top-`p` cells — the fold that
    * finishes what the r12 probe-2 commit started: ONE pass over the
    * broadcast c_id-sorted centroid array keeps the best p (csim, c_id)
    * in a p-SLOT struct accumulator (a generated when-chain: insertion at
    * the first slot the score strictly exceeds, equal-sim newcomers fall
    * through so an earlier cell never loses its slot — exactly the
    * window's (csim desc, c_id asc) tie-break), then explodes the ≤ p
    * non-empty slots to (crn, c_id) rows per vector. Replaces both
    * r12's fixed two-slot fold AND the probes ≥ 3 fallback through
    * [[cellRank]]'s O(N·nlist) window shuffle: every probe setting now
    * rides the same zero-row-explosion shape, O(nlist·p) compares per
    * row, no shuffle beyond the one-row broadcast. Each centroid's dot is
    * computed once (`transform` first, fold over the scored array), and
    * the fold step allocates only when a slot improves (the r13
    * array-surgery insert paid several array allocations per centroid
    * per row — the measured 6.3×-over-flat assignment wall at ×10
    * occupancy-preserving nlist that motivated this shape).
    *
    * Degenerate rows: a NULL similarity (NULL embedding or element) is
    * dropped BEFORE the fold, so a vector ranks only among its non-NULL
    * cells and a vector with no non-NULL similarity emits nothing — the
    * same contract as [[cellArgmax]]'s `c_id >= 0` filter and
    * [[cellRank]]'s NULL-sim filter (all three paths agree on degenerate
    * rows regardless of the probes setting).
    */
  private[graft] def cellArgTopP(
      n: DataFrame, cents: DataFrame, idCol: String, p: Int): DataFrame =
    n.crossJoin(broadcast(cents.agg(centArray)))
      .select(col(idCol), col("e"), col("nrm"),
        explode(topPFold(col("e"), col("nrm"), col("cs"), p)).as("t"))
      .select(col(idCol), col("e"), col("nrm"),
        col("t.c").as("c_id"), col("t.crn").cast("int").as("crn"))

  /** The p-slot top-P fold shared by [[cellArgTopP]] (over the broadcast
    * full-centroid array) and [[cellArgTopPHier]] (over a supercell's
    * block array): folds a [[centArray]] of (c_id, ce, cn) structs
    * into the row's p best (similarity, cell) candidates, returned as an
    * array of (s, c, crn) structs in exactly the window's
    * (s desc, c_id asc) order — `s` retained so a caller ranking ACROSS
    * several folds (the superProbes > 1 block union) can re-rank without
    * re-scoring.
    *
    * p-SLOT STRUCT accumulator, not array surgery. `p` is a Scala-side
    * constant, so the insert is a generated when-chain over p fixed
    * slots (slot i = i-th best (s, c) so far, s = −inf / c = −1 empty):
    * insertion lands at the FIRST slot the score strictly exceeds —
    * equal scores fall through, and iteration order is c_id ascending,
    * so the final order is exactly (s desc, c_id asc), the window's.
    * The r13 shape rebuilt the accumulator ARRAY every step (two
    * `filter` traversals + `concat` + `slice` → several GenericArrayData
    * allocations per CENTROID per row — measured 6.3× the flat argmax
    * wall at ×10 occupancy-preserving nlist, and the ×100 leg was still
    * folding at 25 min where flat finishes in 40 s); the struct chain
    * does p field compares and allocates ONLY on the rare improving
    * step, putting the probes knob back at ~pair-volume cost.
    *
    * Each centroid is scored ONCE (`transform` before the fold — an
    * inline `s` in the when-chain would re-evaluate the dot per slot
    * test); NULL sims never pass a `>` test, so they fall through every
    * slot — the same dropped-before-ranking contract as [[cellArgmax]]'s
    * `c_id >= 0` filter.
    */
  private def topPFold(e: Column, nrm: Column, cs: Column, p: Int): Column = {
    def slots(vals: Seq[(Column, Column)]): Column =
      struct(vals.zipWithIndex.flatMap { case ((s, c), i) =>
        Seq(s.as(s"s${i + 1}"), c.as(s"c${i + 1}")) }: _*)
    val init = slots(Seq.fill(p)((lit(Double.NegativeInfinity), lit(-1L))))
    aggregate(
      transform(cs, c => struct(
        cosSim(e, c("ce"), nrm, c("cn")).as("s"),
        c("c_id").as("c"))),
      init,
      (acc, x) => {
        val inserted = (1 to p).map { i =>
          slots((1 until i).map(j => (acc(s"s$j"), acc(s"c$j"))) ++
            Seq((x("s"), x("c"))) ++
            (i until p).map(j => (acc(s"s$j"), acc(s"c$j"))))
        }
        (1 to p).foldRight(acc) { (i, els) =>
          when(x("s") > acc(s"s$i"), inserted(i - 1)).otherwise(els)
        }
      },
      acc => filter(
        array((1 to p).map(i =>
          struct(acc(s"s$i").as("s"), acc(s"c$i").as("c"), lit(i).as("crn"))): _*),
        t => t("c") >= 0))
  }

  /** [[cellArgTopP]] under the TWO-LEVEL coarse quantizer — the probes
    * recall lever carried past the flat fold's ~1M-centroid broadcast
    * limit (the r14 grid showed flat-p2 recovering 2.2× the boundary
    * pairs of hier-superProbes=2 at ×100: the family's cheapest lever
    * lived only where the flat broadcast still exists). The blocks are
    * [[superBlocks]]' (shared with [[cellArgmaxHier]]), with the per-block
    * argmax fold replaced by the block-restricted [[topPFold]]: each vector scans its
    * `superProbes` nearest supercells' blocks and keeps the p best cells
    * ACROSS the scanned union ((s desc, c_id asc) — blocks partition the
    * centroid set, so candidates never duplicate). With superProbes = 1
    * the fold's own ranking IS the final one (one block, no re-rank);
    * superProbes > 1 re-ranks the ≤ superProbes·p retained candidates
    * through a window over that many rows per vector, never nlist.
    * probes = 1 reduces exactly to [[cellArgmaxHier]] (spec-pinned), and
    * superProbes covering every supercell recovers [[cellArgTopP]]
    * exactly. Cost stays the hier contract: ~2·√nlist similarity
    * evaluations per row, no broadcast past the √nlist-entry supercenter
    * array, per-task block memory O(√nlist·d) via the sc_id shuffle join.
    */
  private[graft] def cellArgTopPHier(
      n: DataFrame,
      cents: DataFrame,
      idCol: String,
      superProbes: Int,
      probes: Int): DataFrame = {
    val cand = superBlocks(n, cents, idCol, superProbes)
      .select(col(idCol), col("e"), col("nrm"),
        explode(topPFold(col("e"), col("nrm"), col("cs"), probes)).as("t"))
      .select(col(idCol), col("e"), col("nrm"),
        col("t.s").as("s"), col("t.c").as("c_id"), col("t.crn").cast("int").as("crn"))
    if (superProbes == 1)
      cand.select(col(idCol), col("e"), col("nrm"), col("c_id"), col("crn"))
    else {
      val wv = Window.partitionBy(col(idCol)).orderBy(col("s").desc, col("c_id"))
      cand.withColumn("crn2", row_number().over(wv)).filter(col("crn2") <= probes)
        .select(col(idCol), col("e"), col("nrm"), col("c_id"),
          col("crn2").cast("int").as("crn"))
    }
  }

  /** The ranked tail of every top-k search and of the kNN graph: per
    * `keyCol`, the `k` best `idCol` rows by (cos desc, idCol) — the
    * `Filter(rank <= k, Window(row_number))` shape
    * [[graft.plans.GroupTopKRewrite]] lowers to bounded heaps. Output:
    * (keyCol, rank, idCol, cos_bp) ordered by (keyCol, rank).
    */
  private def rankTopK(pairs: DataFrame, k: Int, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("cos").desc, col(idCol))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(keyCol), col("rank"), col(idCol), TextOps.roundBp(col("cos")).as("cos_bp"))
      .orderBy(col(keyCol), col("rank"))
  }

  /** Corpus-wide kNN graph within IVF cells — every vector's top-k
    * neighbors among the vectors sharing its home cell: the building block
    * for embedding-cluster dedup, graph-based label propagation, and
    * HNSW-style index construction. Unlike the query-driven searches above
    * there is no small broadcast side — BOTH sides are the corpus — so the
    * shape that survives 100 TB is the cell-partitioned SELF-join: each
    * cell's members meet only each other (O(Σ cell²), never corpus²), and
    * the join key is the cell id.
    *
    * The self-join inputs are the SAME derived frame; repartitioning on
    * the cell key first makes both sides end in identical exchanges, which
    * ReuseExchange collapses — the assignment pipeline (norms + cell rank)
    * runs once, not twice (the [[nearDupPairs]] diamond fix; plan-asserted
    * in PlanSpec). Boundary caveat and its knob: with `probes` = 1, true
    * neighbors in ADJACENT cells are missed (recall follows cell
    * granularity); `probes` > 1 unions each SOURCE vector into its
    * `probes` nearest cells (the IVF nProbe idea applied to graph
    * construction) — candidates still live only in their home cell, so
    * fan-out grows linearly in `probes`, never quadratically, and a
    * (source, candidate) pair cannot duplicate (each candidate has ONE
    * home cell). SimOpsSpec pins that probes=2 recall dominates probes=1.
    *
    * Scale law (measured, SKEW_scale.txt, round 11, "knnGraph occupancy
    * growth law"): the cost
    * driver is per-cell OCCUPANCY, not corpus size — O(Σ cell²) means
    * growing the corpus N× over a FIXED cell set multiplies pairing by N²
    * (x100 data over the declared 16 cells: a ~10,000x pair blowup,
    * absorbed in ~70-107x wall). The production discipline is
    * occupancy-preserving nlist, cells ∝ N with constant vectors/cell —
    * exactly how IVF sizes nlist — under which the same x100 corpus runs
    * ~12x the sf0.1 wall (1.1 s → 13.1 s, 1600 cells, min-of-2). The
    * declared query pins 16 cells only for oracle comparability.
    *
    * Output: (id_a, rank, id_b, cos_bp), rank over (cosine desc, id_b).
    */
  def knnGraph(
      emb: DataFrame,
      centroidPred: Column,
      k: Int = 3,
      probes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    rankTopK(knnCellPairs(emb, centroidPred, probes, idCol, embCol), k, "id_a", "id_b")

  /** The kNN graph's candidate-pair stage — the ONE place the cell-bounded
    * (id_a, id_b, cos) candidate set is built ([[knnGraph]] and
    * [[knnGraphHier]] rank it directly; [[hardNegatives]] band-filters it
    * first — shared so the mining op cannot drift from the graph it
    * subsets). `hier` assigns through the two-level quantizer
    * ([[cellArgmaxHier]], [[cellArgTopPHier]] when `probes` > 1). */
  private def knnCellPairs(
      emb: DataFrame,
      centroidPred: Column,
      probes: Int,
      idCol: String,
      embCol: String,
      hier: Boolean = false,
      superProbes: Int = 1): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    // each SOURCE vector pairs in its `probes` best cells, candidates only
    // in their home cell (crn = 1), so pairs cannot duplicate
    val ranked = cellProbes(n, centroids(n, centroidPred, idCol), idCol, probes, hier, superProbes)
    val a = ranked.select(col("c_id"), col(idCol).as("id_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = ranked.filter(col("crn") === 1)
      .select(col("c_id"), col(idCol).as("id_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, "c_id")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
  }

  /** Each vector's `probes` nearest cells, crn = 1 its home cell: the flat
    * fold ([[cellArgmax]], [[cellArgTopP]]) or, when `hier`, the two-level
    * quantizer ([[cellArgmaxHier]], [[cellArgTopPHier]]). Output:
    * (idCol, e, nrm, c_id, crn), repartitioned on c_id for the in-cell
    * self-join of [[knnCellPairs]] and [[cellNearDupPairs]].
    */
  private def cellProbes(
      n: DataFrame,
      cents: DataFrame,
      idCol: String,
      probes: Int,
      hier: Boolean,
      superProbes: Int): DataFrame =
    (if (hier && probes > 1) cellArgTopPHier(n, cents, idCol, superProbes, probes)
      else if (hier) cellArgmaxHier(n, cents, idCol, superProbes).withColumn("crn", lit(1))
      else if (probes == 1) cellArgmax(n, cents, idCol).withColumn("crn", lit(1))
      else cellArgTopP(n, cents, idCol, probes))
      .select(col(idCol), col("e"), col("nrm"), col("c_id"), col("crn"))
      .repartition(col("c_id"))

  /** Hard-negative mining for contrastive / embedding training — per
    * vector, the top-`k` most-similar candidates that are NOT
    * near-duplicates: similar enough to be informative negatives, not so
    * similar they are actually positives (a duplicate labeled "negative"
    * poisons the contrastive loss — the standard mining pitfall). The
    * candidate set is [[knnGraph]]'s cell-bounded pair stage (shared
    * [[knnCellPairs]], no drift) filtered to `cos_bp < dupBp` BEFORE
    * ranking, where `dupBp` defaults to the SAME ≥ 9900 near-dup rule
    * [[semDedup]] collapses on — what dedup would collapse, mining must
    * not emit. The boundary tests the bp-ROUNDED cosine so both engines
    * agree on it exactly.
    *
    * Scale shape: identical to [[knnGraph]] (one assignment pass, in-cell
    * pairing, per-source window) — the band filter is a pre-rank
    * predicate, no extra shuffle. Output: (id_a, rank, id_b, cos_bp),
    * rank over the surviving candidates.
    */
  def hardNegatives(
      emb: DataFrame,
      centroidPred: Column,
      k: Int = 3,
      dupBp: Int = 9900,
      probes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    rankTopK(
      knnCellPairs(emb, centroidPred, probes, idCol, embCol)
        .filter(TextOps.roundBp(col("cos")) < dupBp),
      k, "id_a", "id_b")

  /** Embedding distribution drift between two corpus snapshots — the
    * monitor a production pipeline runs when a new crawl lands: assign
    * BOTH snapshots to the same fixed IVF cells and compare per-cell
    * occupancy shares. A cell whose share moved is where the new data
    * differs (topic shift, new boilerplate, pipeline bug); the per-cell
    * deltas are the alert surface. Shares are integer bp
    * (`n·10⁴ div total` per side), so the drift report is engine-exact
    * even though the assignment cosine is float (the same
    * element-order-deterministic `vec_dot` vs `list_dot_product`
    * equivalence every IVF query relies on).
    *
    * Shape: one cell assignment pass (broadcast centroids, per-row argmax
    * over ≤ nlist cells — the [[knnGraph]] discipline, cells ∝ corpus at
    * scale), one cell-sized aggregation, totals as a 1-row broadcast.
    * Output: (cell_id, n_old, n_new, share_old_bp, share_new_bp,
    * delta_bp) ordered by cell.
    */
  def cellDrift(
      emb: DataFrame,
      oldPred: Column,
      centroidPred: Column,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents = centroids(n, centroidPred, idCol)
    val counts = cellArgmax(n, cents, idCol)
      .withColumn("is_old", oldPred.cast("long"))
      .groupBy(col("c_id"))
      .agg(sum(col("is_old")).as("n_old"),
        sum(lit(1L) - col("is_old")).as("n_new"))
    val totals = counts.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    counts.crossJoin(broadcast(totals))
      .select(col("c_id").as("cell_id"), col("n_old"), col("n_new"),
        expr("n_old * 10000 div t_old").as("share_old_bp"),
        expr("n_new * 10000 div t_new").as("share_new_bp"),
        expr("n_new * 10000 div t_new - n_old * 10000 div t_old").as("delta_bp"))
      .orderBy(col("cell_id"))
  }

  /** Per-class embedding prototypes — the class-centroid report an
    * embedding-quality audit reads (collapsed classes, mislabeled
    * clusters, dead dimensions): for every (label, dimension), the count
    * and the integer-exact mean component, computed as
    * `sum(roundBp(x)) div n` — the same bp-quantize-then-average rule as
    * [[refineCentroids]], so both engines agree bit-for-bit where a float
    * mean never would. Components are signed, so the mean floors a DOUBLE
    * quotient rather than using integral `div`: Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, and they disagree exactly on
    * negative sums — `floor(sum/n)` is engine-identical because an
    * integer-ratio double at these magnitudes (|sum| < 2^53, n·ulp < 1)
    * can only round ONTO an integer when the ratio is that integer.
    * One pass (posexplode to (label, dim) — a |labels|·d-bounded hash
    * aggregate with map-side combine).
    * Output: (label, dim, n_vecs, mean_bp) ordered by (label, dim).
    */
  def classPrototypes(
      emb: DataFrame, labelCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    emb
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(embCol)).as(Seq("dim0", "x")))
      .select(col("label"), (col("dim0") + 1).cast("long").as("dim"),
        TextOps.roundBp(col("x")).as("x_bp"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("x_bp")).cast("double") / count(lit(1))).cast("long").as("mean_bp"))
      .orderBy(col("label"), col("dim"))

  /** SemDeDup-style canonical selection inside near-dup CLUSTERS — the
    * step that turns cluster evidence into a rewritten corpus: each
    * cluster keeps the member MOST SIMILAR to the cluster's mean vector
    * (cosine argmax, ties to the smallest id). This is the embedding
    * analog of [[DedupOps.keepBest]], which ranks text clusters by an
    * extrinsic quality score; embeddings carry no such signal, so
    * TYPICALITY — closeness to the cluster centroid — is the selection
    * rule (Abbas et al. 2023 prescribe exactly this reduction for
    * semantic-duplicate clusters).
    *
    * Determinism: the mean is the bp-quantize-then-average rule
    * ([[refineCentroids]]'s construction — integer bp sums, one double
    * division per dimension), so both engines build bit-identical mean
    * vectors; member cosines are [[graft.functions.VecDot]] /
    * `list_dot_product` left-to-right double folds over those identical
    * values, so the argmax order is portable.
    *
    * Scale shape: one posexplode to (cluster, dim) — a |clusters|·d
    * hash aggregate with map-side combine (the [[classPrototypes]]
    * shape); means hash-join back to members on the cluster key; the
    * per-cluster argmax is `row_number() = 1`, which
    * [[graft.plans.GroupTopKRewrite]] lowers to bounded single-row
    * heaps. Nothing quadratic, no driver state — `clusters` itself
    * arrives checkpointed from [[DedupOps.dedupClusters]], so its two
    * consumers here re-read the checkpoint, not the CC loop.
    *
    * Output: (cluster_id, n_vecs, keep_id, keep_cos_bp) by cluster_id.
    */
  def clusterKeepBest(
      emb: DataFrame,
      clusters: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val memb = clusters.select(col(idCol), col("cluster_id"))
      .join(emb.select(col(idCol), col(embCol).as("e")), Seq(idCol))
    val means = bpMean(memb, Seq("cluster_id"), "e")
      .select(col("cluster_id"), col("ce"), l2Norm(col("ce")).as("cn"))
    val scored = memb.join(means, Seq("cluster_id"))
      .select(col("cluster_id"), col(idCol),
        (dot(col("e"), col("ce")) / (l2Norm(col("e")) * col("cn"))).as("cos"))
    val wc = Window.partitionBy(col("cluster_id"))
    val wr = Window.partitionBy(col("cluster_id")).orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("n_vecs", count(lit(1)).over(wc))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_vecs"), col(idCol).as("keep_id"),
        TextOps.roundBp(col("cos")).as("keep_cos_bp"))
      .orderBy(col("cluster_id"))
  }

  /** `embeddings` plus planted exact-duplicate vectors (every 100th vec_id,
    * id + [[DedupOps.plantStep]] = max(vec_id)+1, so planted ids stay above
    * every real id at any corpus scale) — the embedding analog of
    * [[DedupOps.plantedCorpus]], so the near-dup query demonstrably finds
    * known duplicates.
    */
  def plantedVectors(emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val step = DedupOps.plantStep(emb, idCol)
    emb.select(col(idCol), col(embCol), col("label"))
      .unionByName(emb.filter(col(idCol) % 100 === 0)
        .select((col(idCol) + step).as(idCol), col(embCol), col("label")))
  }

  /** Exact-dedup-first, the near-dup family's first stage: identical raw
    * embedding arrays collapse to their min-id representative (the r12
    * family default, as in `MultimodalOps.phashPairs`). Returns
    * (reps (idCol, embCol), mem (idCol, rep_id) — every row and its rep).
    */
  private[graft] def repCollapse(
      emb: DataFrame, idCol: String, embCol: String): (DataFrame, DataFrame) = {
    val groups = emb.groupBy(col(embCol)).agg(min(col(idCol)).as("rep_id"))
    (groups.select(col("rep_id").as(idCol), col(embCol)),
      emb.join(groups, Seq(embCol)).select(col(idCol), col("rep_id")))
  }

  /** Member re-attach, the near-dup family's last stage: rep pairs
    * (ra, rb, `score`) become member pairs — cross-group pairs inherit the
    * rep score (identical vectors, identical score) — plus every
    * intra-group pair, an exact duplicate at `exact` (cos_bp 10000; the
    * perceptual-hash pairing passes hamming 0).
    * Output: (id_a, id_b, score), id_a < id_b, unordered — callers sort
    * last, after any column they add, so the projection stays pushed
    * through the union.
    */
  private[graft] def reattach(
      repPairs: DataFrame,
      mem: DataFrame,
      idCol: String,
      score: String = "cos_bp",
      exact: Long = 10000L): DataFrame = {
    val cross = repPairs
      .join(mem.as("ma"), col("ra") === col("ma.rep_id"))
      .join(mem.as("mb"), col("rb") === col("mb.rep_id"))
      .select(
        least(col(s"ma.$idCol"), col(s"mb.$idCol")).as("id_a"),
        greatest(col(s"ma.$idCol"), col(s"mb.$idCol")).as("id_b"),
        col(score))
    val intra = mem.as("x")
      .join(mem.as("y"),
        col("x.rep_id") === col("y.rep_id") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(exact).as(score))
    cross.unionByName(intra)
  }

  /** Per-key participation cap: only the `cap` lowest-id rows of each key
    * pair (deterministic, oracle-mirrored); a cap ≤ 0 keeps every row, as
    * [[DedupOps.DefaultMaxBucket]]'s rule reads. Output: (idCol, e, nrm, key).
    */
  private def capPerKey(keyed: DataFrame, key: String, cap: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(idCol))
    (if (cap <= 0) keyed
      else keyed.withColumn("rk", row_number().over(w)).filter(col("rk") <= cap))
      .select(col(idCol), col("e"), col("nrm"), col(key))
  }

  /** Capped keyed pairing — the one within-key threshold self-join of the
    * near-dup family (sign buckets, LSH tables, IVF cells). `keyed` holds
    * (idCol, e, nrm, key) already repartitioned on `key`, so both join
    * sides end in the same exchange and ReuseExchange runs the keying
    * pipeline once (plan-asserted in PlanSpec). Rows are capped per key
    * ([[capPerKey]]), then every same-key pair a.id < b.id is scored and
    * kept at roundBp(cos) ≥ `thresholdBp` — O(Σ min(size, cap)²) per key,
    * never corpus². Output: (ra, rb, cos_bp), ra < rb.
    */
  private[graft] def keyedPairs(
      keyed: DataFrame, key: String, cap: Int, thresholdBp: Long, idCol: String): DataFrame = {
    val capped = capPerKey(keyed, key, cap, idCol)
    capped.alias("a")
      .join(capped.alias("b"),
        col(s"a.$key") === col(s"b.$key") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("ra"), col(s"b.$idCol").as("rb"),
        TextOps.roundBp(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")))
          .as("cos_bp"))
      .filter(col("cos_bp") >= thresholdBp)
  }

  /** [[nearDupPairs]]' rep pairing over normalized reps `n`: the
    * [[signBucket]] key, repartitioned, into [[keyedPairs]]. Shared with
    * [[nearDupRecallAudit]], so the audit measures the operator's code.
    */
  private def signBucketPairs(
      n: DataFrame, thresholdBp: Int, bits: Int, maxBucket: Int, idCol: String): DataFrame =
    keyedPairs(n.withColumn("bucket", signBucket(col("e"), bits)).repartition(col("bucket")),
      "bucket", maxBucket, thresholdBp, idCol)

  /** Embedding-cosine near-duplicate pairs within sign-LSH buckets (never
    * corpus × corpus): [[repCollapse]] → reps keyed by [[signBucket]] →
    * [[keyedPairs]] at `thresholdBp` with the `maxBucket` participation
    * cap → [[reattach]]. Exact duplicates are always found (group
    * structure, not LSH luck); boundary near-dups follow the LSH trade
    * documented on [[lshTopK]].
    *
    * SCALE LAW: a fixed `bits` keeps the 2^bits key space constant, so rep
    * occupancy grows with the distinct corpus and uncapped pairing
    * quadratically. The declared queries derive `bits` with
    * [[autoSignBits]] (key space ∝ distinct corpus), so the cap idles in
    * expectation; [[nearDupCapAudit]] shows what it forgoes. The static
    * default (4) remains for small fixtures and direct spec calls.
    *
    * Output: (id_a, id_b, cos_bp), id_a < id_b.
    */
  def nearDupPairs(
      emb: DataFrame,
      thresholdBp: Int = 4000,
      bits: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (reps, mem) = repCollapse(emb, idCol, embCol)
    reattach(
      signBucketPairs(normalized(reps, idCol, embCol), thresholdBp, bits, maxBucket, idCol),
      mem, idCol).orderBy(col("id_a"), col("id_b"))
  }

  /** OR-amplified multi-table [[nearDupPairs]]: `tables` independent sign
    * tables (table t hashes dims [t·bits, (t+1)·bits) — [[lshTopK]]'s
    * construction) key the reps; candidates meet in ANY table
    * ([[keyedPairs]] per table, capped per table), identical rep pairs
    * collapse before [[reattach]]. A single table finds a cos-θ pair with
    * probability (1 − θ/π)^bits; `tables` recover 1 − (1 − p)^tables, at
    * `tables`× the single-table pairing cost. Requires (and enforces, via
    * [[embDim]]) tables·bits ≤ embedding dim. The declared
    * q_embed_neardup_multi derives `bits` = [[autoSignBits]] and `tables`
    * = ⌊dims / bits⌋ (SKEW_scale.txt, round 13, "near-dup RECALL audit +
    * OR-amplified remedy": 75% of anchor-sample truth at sf0.1 vs 5.4%
    * single-table); loose-threshold similarity at corpus scale belongs to
    * [[cellNearDupPairs]]/[[semDedup]] cells, not sign-LSH.
    */
  def nearDupPairsMulti(
      emb: DataFrame,
      thresholdBp: Int = 4000,
      bits: Int = 4,
      tables: Int = 8,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val dim = embDim(emb, embCol)
    require(tables * bits <= dim,
      s"tables ($tables) x bits ($bits) = ${tables * bits} exceeds embedding dim $dim: " +
        "table t hashes dims [t*bits, (t+1)*bits) and must stay inside the vector")
    val (reps, mem) = repCollapse(emb, idCol, embCol)
    val tableKeys = array((0 until tables).map { t =>
      concat_ws(":", lit(t), signBucket(col("e"), bits, offset = t * bits))
    }: _*)
    val n = normalized(reps, idCol, embCol)
      .select(col(idCol), col("e"), col("nrm"), explode(tableKeys).as("tb"))
      .repartition(col("tb"))
    reattach(keyedPairs(n, "tb", maxBucket, thresholdBp, idCol).distinct(), mem, idCol)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cap telemetry for [[nearDupPairs]]' representative sign-buckets — the
    * embedding member of the `DedupOps.capAudit` family, with
    * PARTICIPATION-cap arithmetic (only a bucket's `maxBucket` lowest-id
    * reps pair; nothing is dropped wholesale): `pairs_kept` =
    * Σ C(min(sz, cap), 2) and `pairs_forgone` the quadratic remainder.
    * `cap_semantics` = `participation` marks the different arithmetic in
    * the row itself (`entries_dropped` counts entries that only LOSE
    * PAIRING PARTNERS beyond the cap, not wholesale-dropped entries as in
    * the `wholesale_drop` rows of `DedupOps.capAudit`). A cap ≤ 0 means no
    * cap (`DedupOps.effectiveCap`).
    */
  def nearDupCapAudit(
      emb: DataFrame,
      bits: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (reps, _) = repCollapse(emb, idCol, embCol)
    val sizes = normalized(reps, idCol, embCol)
      .withColumn("bucket", signBucket(col("e"), bits))
      .groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
    val cap = DedupOps.effectiveCap(maxBucket)
    val kept = s"least(sz, $cap) * (least(sz, $cap) - 1) div 2"
    sizes.agg(
      count(lit(1)).as("n_buckets"),
      coalesce(sum(when(col("sz") > cap, 1L).otherwise(0L)), lit(0L))
        .as("n_dropped"),
      coalesce(sum(when(col("sz") > cap, col("sz") - cap).otherwise(0L)),
        lit(0L)).as("entries_dropped"),
      coalesce(sum(expr(kept)), lit(0L)).as("pairs_kept"),
      coalesce(sum(expr(s"sz * (sz - 1) div 2 - ($kept)")), lit(0L)).as("pairs_forgone"),
      coalesce(max(col("sz")), lit(0L)).as("hottest"))
      .select(lit("neardup_signbucket").as("bucket_kind"), col("n_buckets"),
        col("n_dropped"), col("entries_dropped"), col("pairs_kept"),
        col("pairs_forgone"), col("hottest"),
        lit("participation").as("cap_semantics"))
  }

  /** RECALL audit for [[nearDupPairs]]: the operator's own rep pairing
    * ([[signBucketPairs]]) scored against [[anchorTruth]]'s exact
    * anchor-sample truth — bucket-boundary misses and cap loss in one
    * number, the companion to [[nearDupCapAudit]]'s cost side. Rollup:
    * `DedupOps.recallRollup`. Output (one row): (n_anchors, n_truth,
    * n_found, recall_bp).
    */
  def nearDupRecallAudit(
      emb: DataFrame,
      thresholdBp: Int = 4000,
      bits: Int = 4,
      maxBucket: Int = DedupOps.DefaultMaxBucket,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (n, anchors, truthPairs) = anchorTruth(emb, thresholdBp, idCol, embCol)
    val found = signBucketPairs(n, thresholdBp, bits, maxBucket, idCol)
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
    DedupOps.recallRollup(anchors, truthPairs, found)
  }

  /** The anchor-sample exact truth every embedding recall audit shares:
    * [[repCollapse]] reps, anchors by `DedupOps.anchorPred` (~64,
    * hash-chosen), and the exact truth pairs from scoring every rep
    * against the broadcast anchors — O(anchors·reps), never reps².
    * Returns (normalized reps, anchors (a_id, ae, an), truth pairs (pa, pb)).
    */
  private def anchorTruth(
      emb: DataFrame, thresholdBp: Int, idCol: String, embCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (reps, _) = repCollapse(emb, idCol, embCol)
    val isAnchor = DedupOps.anchorPred(reps, idCol)
    val n = normalized(reps, idCol, embCol)
    val anchors = n.filter(isAnchor)
      .select(col(idCol).as("a_id"), col("e").as("ae"), col("nrm").as("an"))
    val truthPairs = n.crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col("a_id"))
      .select(
        least(col(idCol), col("a_id")).as("pa"),
        greatest(col(idCol), col("a_id")).as("pb"),
        TextOps.roundBp(dot(col("e"), col("ae")) / (col("nrm") * col("an")))
          .as("cos_bp"))
      .filter(col("cos_bp") >= thresholdBp)
      .select(col("pa"), col("pb")).distinct()
    (n, anchors, truthPairs)
  }

  /** RECALL audit for [[cellNearDupPairs]]: the declared pairing itself, at
    * the given knobs, restricted to rep-rep pairs (truth lives on the rep
    * universe; a member pair exists iff its rep pair does, so the
    * restriction is lossless) and scored against the same [[anchorTruth]]
    * as [[nearDupRecallAudit]], so the sign-LSH and cell numbers compare
    * directly on one corpus. Rollup: `DedupOps.recallRollup`.
    * Output (one row): (n_anchors, n_truth, n_found, recall_bp).
    */
  def cellRecallAudit(
      emb: DataFrame,
      centroidPred: Column,
      thresholdBp: Int = 4000,
      maxCell: Int = DefaultMaxCell,
      probes: Int = 1,
      hier: Boolean = false,
      superProbes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (n, anchors, truthPairs) = anchorTruth(emb, thresholdBp, idCol, embCol)
    val repIds = n.select(col(idCol).as("rid"))
    val cellPairs = cellNearDupPairs(emb, centroidPred, thresholdBp, maxCell,
        hier = hier, superProbes = superProbes, probes = probes,
        idCol = idCol, embCol = embCol)
      .join(repIds.as("rx"), col("id_a") === col("rx.rid"))
      .join(repIds.as("ry"), col("id_b") === col("ry.rid"))
      .select(col("id_a"), col("id_b"))
    DedupOps.recallRollup(anchors, truthPairs, cellPairs)
  }

  /** Loose-threshold near-duplicate pairs through IVF CELL GEOMETRY — the
    * handoff past sign-LSH's moderate-cosine recall limit (the r13 audits:
    * OR-amplified sign-LSH finds ~1.8% of the cos ≥ 0.40 anchor truth at
    * ×100): cosine-close vectors co-locate by nearest centroid, whose
    * granularity occupancy-preserving nlist keeps constant as the corpus
    * grows.
    *
    * Keys and scoring: [[repCollapse]] → reps assigned to cells over
    * centroids drawn from the FULL corpus ([[cellArgmax]], or
    * [[cellArgmaxHier]] when `hier`) → [[keyedPairs]] on c_id with the
    * `maxCell` cap → [[reattach]]. `probes` > 1 unions each SOURCE rep
    * into its `probes` nearest cells ([[cellArgTopP]] /
    * [[cellArgTopPHier]]) while candidates stay in their capped home cell
    * — fan-out linear in `probes`, unordered pairs collapsed — recovering
    * threshold pairs that straddle a cell border. [[cellRecallAudit]]
    * prices what is still missed.
    *
    * Output: (id_a, id_b, cos_bp), id_a < id_b, ordered.
    */
  def cellNearDupPairs(
      emb: DataFrame,
      centroidPred: Column,
      thresholdBp: Int = 4000,
      maxCell: Int = DefaultMaxCell,
      hier: Boolean = false,
      superProbes: Int = 1,
      probes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (reps, mem) = repCollapse(emb, idCol, embCol)
    val cents = centroids(normalized(emb, idCol, embCol), centroidPred, idCol)
    val rankedLazy = cellProbes(normalized(reps, idCol, embCol), cents, idCol,
      probes, hier, superProbes)
    // probes > 1 gives the assignment THREE consumers (the home-cap
    // window, the ok-id restriction, and the probe-side join), and the
    // filter/prune pushdown each applies below the repartition
    // de-canonicalizes the three subplans, so ReuseExchange never
    // collapses them — the fold pipeline re-executes per consumer (and
    // InferFiltersFromGenerate duplicates it once more into the explode's
    // inferred non-empty filter). The hier assignment hits the same wall
    // even at probes = 1: its multi-leg subplans (supercenters, c2s,
    // blocks, the block join) de-canonicalize under each consumer's
    // pushdown (r15 PlanProbe: 16 corpus scans vs the flat fold's 10).
    // Eager localCheckpoint materializes the assignment ONCE; blocks stay
    // alive for the caller's lazy result (the
    // [[DedupOps.dedupClustersDetailed]] discipline). Flat probes = 1 is
    // the one single-pipeline case ReuseExchange already handles — kept
    // lazy. Retention is SESSION-BOUNDED, not session-lifetime: persist()
    // inside localCheckpoint registers the RDD with ContextCleaner, which
    // unpersists its blocks once the caller's result frame is GC'd — a
    // long shared session (the 205-query sweeps) reclaims each query's
    // checkpoint at the next collection (Bench's settle() forces one
    // between passes), so checkpoints never accumulate past live results.
    val ranked =
      if (probes > 1 || hier) Checkpoints.cut(rankedLazy) else rankedLazy
    // the participation cap is on HOME-cell membership by id rank; a rep
    // beyond its home cap drops from BOTH sides (probe rows included), so
    // the pair universe stays the capped reps' regardless of the probes
    val home = ranked.filter(col("crn") === 1)
      .select(col(idCol), col("e"), col("nrm"), col("c_id"))
    val repPairs =
      if (probes == 1) keyedPairs(home, "c_id", maxCell, thresholdBp, idCol)
      else {
        val pairable = capPerKey(home, "c_id", maxCell, idCol)
        val okIds = pairable.select(col(idCol).as("__ok"))
        val aSide = ranked.join(okIds, col(idCol) === col("__ok"))
          .select(col(idCol), col("e"), col("nrm"), col("c_id"))
        aSide.alias("a")
          .join(pairable.alias("b"),
            col("a.c_id") === col("b.c_id") && col(s"a.$idCol") =!= col(s"b.$idCol"))
          .select(
            least(col(s"a.$idCol"), col(s"b.$idCol")).as("ra"),
            greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("rb"),
            TextOps.roundBp(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")))
              .as("cos_bp"))
          .distinct()
          .filter(col("cos_bp") >= thresholdBp)
      }
    reattach(repPairs, mem, idCol).orderBy(col("id_a"), col("id_b"))
  }

  /** [[semDedup]]'s cell stage, shared with [[semDedupRecallAudit]] so the
    * audit measures the operator's own code: normalized reps `nR` assigned
    * to their nearest cell ([[cellArgmax]], or [[cellArgmaxHier]] when
    * `hier`) and repartitioned on it, then [[keyedPairs]] on c_id with the
    * `maxCell` cap. Returns (assigned (idCol, e, nrm, c_id), pairs
    * (ra, rb, cos_bp)).
    */
  private def semDedupCells(
      nR: DataFrame,
      cents: DataFrame,
      thresholdBp: Long,
      maxCell: Int,
      hier: Boolean,
      superProbes: Int,
      idCol: String): (DataFrame, DataFrame) = {
    val assignedLazy = (if (hier) cellArgmaxHier(nR, cents, idCol, superProbes)
      else cellArgmax(nR, cents, idCol))
      .select(col(idCol), col("e"), col("nrm"), col("c_id"))
      .repartition(col("c_id"))
    // `assigned` has THREE consumers (the cap window, both pair sides,
    // the survivor anti-join); the flat fold's identical repartitions
    // collapse under ReuseExchange, but the hier pipeline's multi-leg
    // subplans de-canonicalize under pushdown (the r14 cells-p2 trap —
    // PlanProbe showed the hier assignment re-executing: 10 corpus scans
    // vs flat's 4). Eager localCheckpoint runs it ONCE; blocks stay
    // alive for the caller's lazy result (the dedupClustersDetailed
    // discipline).
    val assigned = if (hier) Checkpoints.cut(assignedLazy) else assignedLazy
    (assigned, keyedPairs(assigned, "c_id", maxCell, thresholdBp, idCol))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup in
    * embedding space — catches meaning-level copies no lexical dedup can
    * see. Keys and scoring ([[semDedupCells]]): [[repCollapse]] reps in
    * IVF cells, [[keyedPairs]] on c_id at `thresholdBp` under the
    * `maxCell` cap; a rep with a ≥-threshold LOWER-id cell-mate is
    * dropped, and non-rep members drop as exact copies of their rep.
    * Cross-cell near-dups are missed BY DESIGN — the paper's trade:
    * pairing is quadratic only in cell size. Beyond-cap reps pass through
    * as survivors. `hier` swaps in the two-level quantizer past the flat
    * fold's ~1M-centroid broadcast limit.
    *
    * Output: surviving (idCol, c_id), ordered by id. Centroid selection
    * (`centroidPred`) applies to the FULL corpus, not the rep universe,
    * so the declared predicate keys stay stable.
    */
  def semDedup(
      emb: DataFrame,
      centroidPred: Column,
      thresholdBp: Long = 9900L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCell: Int = DefaultMaxCell,
      hier: Boolean = false,
      superProbes: Int = 1): DataFrame = {
    val (reps, _) = repCollapse(emb, idCol, embCol)
    val cents = centroids(normalized(emb, idCol, embCol), centroidPred, idCol)
    val (assigned, pairs) = semDedupCells(normalized(reps, idCol, embCol), cents,
      thresholdBp, maxCell, hier, superProbes, idCol)
    val dups = pairs.select(col("rb").as(idCol)).distinct()
    assigned.join(dups, Seq(idCol), "left_anti")
      .select(col(idCol), col("c_id"))
      .orderBy(col(idCol))
  }

  /** RECALL audit for [[semDedup]]: the operator's own capped within-cell
    * pairs ([[semDedupCells]]) scored against [[anchorTruth]] at the same
    * threshold — cross-cell misses and cap loss, directly comparable to
    * the sign-LSH and cell audits on the same corpus. `hier` audits the
    * two-level assignment. Rollup: `DedupOps.recallRollup`.
    * Output (one row): (n_anchors, n_truth, n_found, recall_bp).
    */
  def semDedupRecallAudit(
      emb: DataFrame,
      centroidPred: Column,
      thresholdBp: Int = 9900,
      maxCell: Int = DefaultMaxCell,
      hier: Boolean = false,
      superProbes: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (n, anchors, truthPairs) = anchorTruth(emb, thresholdBp, idCol, embCol)
    val cents = centroids(normalized(emb, idCol, embCol), centroidPred, idCol)
    val (_, pairs) = semDedupCells(n, cents, thresholdBp, maxCell, hier, superProbes, idCol)
    DedupOps.recallRollup(anchors, truthPairs,
      pairs.select(col("ra").as("id_a"), col("rb").as("id_b")))
  }

  /** Int8 scalar quantization of the embedding corpus — the 4x storage
    * compression every vector store applies before serving (FAISS SQ8
    * shape): per-DIMENSION [min, max] bounds trained over the corpus, each
    * value encoded to `floor((x-lo)/(hi-lo)*255+0.5)` ∈ [0, 255].
    * Output per vector: dims, sum of codes (an exact integer fingerprint of
    * the code matrix), and L1 reconstruction error in basis points.
    *
    * Determinism: bounds are min/max (exact, order-free); codes are one
    * float-exact affine map + floor; the error sum is over bp-quantized
    * integers ([[TextOps.roundBp]]), never a float accumulation — so the
    * result hash-matches DuckDB like [[refineCentroids]] does.
    *
    * Scale shape: the bounds table is `dims` rows — broadcast back; encode
    * is a pure map; the per-vector rollup is a partial+final aggregation.
    * Nothing grows with corpus size except the one narrow (id, pos, x)
    * explode, which is map-local.
    */
  def scalarQuantize(
      emb: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    sqCodes(emb, idCol, embCol)
      .select(col(idCol), col("code"),
        TextOps.roundBp(abs(col("x") - col("dx"))).as("err_bp"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("code")).as("code_sum"),
        sum(col("err_bp")).as("l1_err_bp"))
      .orderBy(col(idCol))

  /** The ONE SQ8 bounds/code/decode chain, shared by [[scalarQuantize]]
    * (its declared query reports reconstruction error from `x`−`dx`) and
    * [[sqRecall]] (ranks over the decoded `dx` vectors) — extracted so
    * the recall audit measures exactly the quantizer's reconstruction by
    * construction, not by parallel maintenance of two copies. Per
    * (vector, dimension): the corpus min/max bounds (dims rows, broadcast
    * back), the int8 code `floor((x−lo)/span·255+0.5)` (0 on a
    * degenerate span), and the decoded value `lo + code/255·span`.
    * Output: (idCol, pos, x, code, dx).
    */
  private def sqCodes(
      emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val dims = emb.select(col(idCol), posexplode(col(embCol)))
      .select(col(idCol), col("pos"), col("col").cast("double").as("x"))
    val bounds = dims.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val span = col("hi") - col("lo")
    val code = when(span === lit(0.0), lit(0L))
      .otherwise(floor((col("x") - col("lo")) / span * lit(255.0) + lit(0.5)).cast("long"))
    dims.join(broadcast(bounds), "pos")
      .select(col(idCol), col("pos"), col("x"), code.as("code"),
        (col("lo") + code.cast("double") / lit(255.0) * span).as("dx"))
  }

  /** Product quantization (the FAISS IVF-PQ code path's second half,
    * Jégou et al. 2011): the D-dim space splits into `m` contiguous
    * subspaces; each subspace gets its own small codebook, and a vector
    * compresses to `m` small codes — here 4 subspaces x 8 entries = 12
    * bits per 64-dim vector, a 170x compression next to [[scalarQuantize]]'s
    * fixed 4x. Codebooks are the subvectors of the `centroidPred` sample
    * (the [[ivfTopK]] sampled-quantizer convention — Lloyd refinement per
    * subspace would compose exactly like [[refineCentroids]]).
    *
    * Assignment is nearest-centroid by squared L2, expanded as
    * `x·x - 2·x·c + c·c` through the codegen'd [[dot]] kernel — IEEE
    * add/multiply chains both engines evaluate identically. Per-vector
    * output: the packed integer code word `Σ code_s · 8^s`, and the total
    * squared reconstruction error, bp-rounded PER SUBSPACE and summed as
    * longs (associative under any aggregation order — the
    * [[refineCentroids]] determinism rule).
    *
    * Scale shape: the codebook is m x 8 rows — broadcast; the subvector
    * explode is map-local m-fold fan-out; one window per (vector,
    * subspace) group and one per-vector aggregation, both keyed on the
    * vector id. Nothing shuffles the embedding matrix itself.
    */
  def productQuantize(
      emb: DataFrame,
      centroidPred: Column,
      m: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    productQuantizeWith(emb, pqCodebook(emb, centroidPred, m, idCol, embCol),
      m, idCol, embCol)

  /** (idCol, s, sub) — each vector split into its `m` contiguous subvectors
    * of `size(emb) / m` dims, the width read per row as a column expression
    * (no extra job). The explode is map-local fan-out; a row whose
    * dimension `m` does not divide fails the query with an error naming
    * both.
    */
  private def subvectors(df: DataFrame, m: Int, idCol: String, embCol: String): DataFrame = {
    val d = size(col(embCol))
    val subDim = when(col(embCol).isNull || d % m === 0, (d / m).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"subvectors: m = $m does not divide the embedding dimension "), d.cast("string"))))
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("s"), slice(col(embCol), subDim * s + 1, subDim).as("sub"))
    }: _*)
    df.select(col(idCol), explode(subs).as("x"))
      .select(col(idCol), col("x.s").as("s"), col("x.sub").as("sub"))
  }

  /** Sampled PQ codebooks: the subvectors of the `centroidPred` rows, one
    * 8-entry book per subspace. Output: (s, c_id, ce).
    */
  def pqCodebook(
      emb: DataFrame,
      centroidPred: Column,
      m: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    subvectors(emb.filter(centroidPred), m, idCol, embCol)
      .select(col("s"), col(idCol).as("c_id"), col("sub").as("ce"))

  /** Each (vector, subspace) assigned to its nearest codebook entry by
    * squared L2 (`x·x - 2·x·c + c·c` through the codegen'd [[dot]]), ties
    * to the smaller entry id. Output: (idCol, s, c_id, d2).
    */
  private def pqAssign(vecSubs: DataFrame, codebook: DataFrame, idCol: String): DataFrame = {
    val d2 = (dot(col("sub"), col("sub"))
      - lit(2.0) * dot(col("sub"), col("ce"))
      + dot(col("ce"), col("ce")))
    val bySub = Window.partitionBy(col(idCol), col("s"))
      .orderBy(col("d2"), col("c_id"))
    vecSubs
      .join(broadcast(codebook), "s")
      .select(col(idCol), col("s"), col("c_id"), d2.as("d2"), col("sub"))
      .withColumn("rn", row_number().over(bySub))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** [[productQuantize]] against an explicit codebook table (s, c_id, ce) —
    * the shared second half of the sampled ([[pqCodebook]]) and
    * Lloyd-refined ([[refinePqCodebooks]]) paths.
    */
  def productQuantizeWith(
      emb: DataFrame,
      codebook: DataFrame,
      m: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    pqEncode(subvectors(emb, m, idCol, embCol), codebook, idCol)

  /** The PQ encoder [[productQuantizeWith]] and [[opqQuantize]] share:
    * [[pqAssign]] of the (idCol, s, sub) rows, rolled up per vector to the
    * subspace count, the packed code word `Σ c_id · 8^s` and the squared
    * error bp-rounded per subspace and summed as longs. Output:
    * (idCol, n_subs, code_word, l2sq_err_bp) ordered by idCol.
    */
  private def pqEncode(subs: DataFrame, codebook: DataFrame, idCol: String): DataFrame =
    pqAssign(subs, codebook, idCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_subs"),
        sum(expr("c_id * shiftleft(CAST(1 AS BIGINT), 3 * s)")).as("code_word"),
        sum(TextOps.roundBp(col("d2"))).as("l2sq_err_bp"))
      .orderBy(col(idCol))

  /** Residual product quantization — the IVF-PQ *encoding* refinement in
    * isolation (what FAISS's IndexIVFPQ does by default): PQ the residual
    * v − coarse_centroid(v) instead of v itself. When the coarse cells
    * explain variance (clustered data — the regime IVF exists for),
    * residuals concentrate near zero and the same m x 8-entry budget
    * spends its resolution on exactly what the coarse quantizer failed to
    * explain — SimOpsSpec pins error strictly below [[productQuantize]]'s
    * on planted clusters. The honest flip side, also pinned in spirit by
    * that test's comment: on an unclustered corpus subtracting a
    * near-orthogonal centroid ADDS variance and residual PQ loses.
    *
    * Scale shape: coarse assignment is [[cellArgmax]] (centroids broadcast,
    * corpus never shuffles); the residual is one map-local `zip_with` in
    * DOUBLE precision (both arrays cast BEFORE subtracting — a float32
    * subtraction would round differently from the oracle's DOUBLE[]
    * arithmetic); downstream is [[productQuantizeWith]] over the residual
    * column plus one id-keyed join to carry the home cell.
    *
    * Output: (idCol, cell_id, n_subs, code_word, l2sq_err_bp).
    */
  def residualQuantize(
      emb: DataFrame,
      centroidPred: Column,
      codebookPred: Column,
      m: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents = centroids(n, centroidPred, idCol)
    val resid = cellArgmax(n, cents, idCol)
      .select(col(idCol), col("c_id").as("cell_id"), col("e"))
      .join(broadcast(cents.select(col("c_id").as("cell_id"), col("ce"))), "cell_id")
      .select(col(idCol), col("cell_id"),
        zip_with(col("e").cast("array<double>"), col("ce").cast("array<double>"),
          (x, y) => x - y).as("rv"))
    productQuantizeWith(resid, pqCodebook(resid, codebookPred, m, idCol, "rv"),
        m, idCol, "rv")
      .join(resid.select(col(idCol), col("cell_id")), Seq(idCol))
      .select(col(idCol), col("cell_id"), col("n_subs"), col("code_word"),
        col("l2sq_err_bp"))
      .orderBy(col(idCol))
  }

  /** OPQ-style dimension permutation (Ge et al. 2013, "Optimized Product
    * Quantization", restricted to the PERMUTATION subfamily of rotations —
    * the paper's eigenvalue-allocation step without the SVD iteration):
    * dims ranked by variance, snake-assigned to subspaces so each subspace
    * receives an equal share of high- and low-variance dims. Plain PQ
    * splits dims by POSITION; when variance is position-correlated (true
    * of most learned embeddings — leading dims carry more energy), one
    * subspace's 8 entries must span most of the signal while others
    * quantize noise. Balancing variance across subspaces spends the
    * m × 8-entry budget where the signal is.
    *
    * The restriction to permutations is deliberate: a full rotation needs
    * an eigendecomposition no SQL engine replicates bit-for-bit, while the
    * permutation is integer-exact end-to-end — per-dim variance scores are
    * `n·Σxb² − (Σxb)²` over bp-quantized values with every factor cast to
    * decimal(38,0) BEFORE any multiply (exact: neither the per-element
    * product nor the accumulation can wrap; decimal(38,0) holds up to
    * ~1e26 rows × bp² ~1e9 with room to spare), ranked (var desc, pos), snake
    * `s = idx` on even blocks, `m−1−idx` on odd. Same integers, same
    * permutation, every engine.
    *
    * Output: (pos, s, spos) — 0-based source dim, target subspace, 1-based
    * position within it. d rows total: always broadcast.
    */
  def opqPermutation(
      emb: DataFrame,
      m: Int = 4,
      embCol: String = "embedding"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d = emb.select(posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
    val stats = d
      .select(col("pos"), TextOps.roundBp(col("x")).as("xb"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(dec(col("xb"))).as("sx"),
        // each factor cast BEFORE multiplying: a LONG×LONG xb² wraps
        // silently under non-ANSI Spark once |xb| ≳ 3e9 (bp² > 2^63),
        // while DuckDB's BIGINT multiply would raise — decimal(38,0) on
        // both factors makes the per-element product exact in both engines
        sum(dec(col("xb")) * dec(col("xb"))).as("sxx"))
      .select(col("pos"),
        (dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("var_num"))
    // d rows (one per dim) — the single-partition window is bounded
    val ranked = stats
      .withColumn("rnk", row_number().over(Window.orderBy(col("var_num").desc, col("pos"))) - 1)
    val snake = when(expr(s"(rnk div $m) % 2") === 0, col("rnk") % m)
      .otherwise(lit(m - 1) - col("rnk") % m)
    ranked.withColumn("s", snake.cast("int"))
      .withColumn("spos",
        row_number().over(Window.partitionBy(col("s")).orderBy(col("rnk"))))
      .select(col("pos"), col("s"), col("spos"))
  }

  /** [[productQuantize]] through the [[opqPermutation]]: subvectors gather
    * the PERMUTED dims (explode → broadcast-join the d-row permutation →
    * regroup, one corpus-linear pass, no extra shuffle beyond the regroup),
    * then the identical assign/aggregate chain — same codebook rows, same
    * output schema, directly comparable error. SimOpsSpec pins
    * `Σ l2sq_err <` plain [[productQuantize]]'s on a variance-imbalanced
    * planted fixture (on variance-flat data the allocation is arbitrary,
    * but the budget is balanced either way — no regression mode).
    */
  def opqQuantize(
      emb: DataFrame,
      codebookPred: Column,
      m: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val perm = opqPermutation(emb, m, embCol)
    val d = emb.select(col(idCol),
      posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
    val subs = d.join(broadcast(perm), "pos")
      .groupBy(col(idCol), col("s"))
      .agg(array_sort(collect_list(struct(col("spos"), col("x")))).as("pv"))
      .select(col(idCol), col("s"), transform(col("pv"), p => p.getField("x")).as("sub"))
    val cb = subs.filter(codebookPred)
      .select(col("s"), col(idCol).as("c_id"), col("sub").as("ce"))
    pqEncode(subs, cb, idCol)
  }

  /** Lloyd refinement of the PQ codebooks, per subspace — [[refineCentroids]]
    * composed over the m independent subspaces (FAISS trains its PQ books
    * exactly this way; the sampled book is only the seed). Each round
    * assigns every (vector, subspace) to its nearest entry and rebuilds the
    * entry as the mean of its members, with the same integer-exact
    * bp mean as [[refineCentroids]] ([[bpMean]]) so refined books
    * hash-match DuckDB. Entries that attract no members keep their previous
    * value ([[keepPrevious]]).
    *
    * Scale shape per round: codebooks are m x 8 rows — always broadcast;
    * the corpus-side work is one nearest-entry window keyed (vector,
    * subspace) and one (s, c_id, pos)-keyed aggregation whose key space is
    * m x 8 x subDim — constant — with map-side partials.
    */
  def refinePqCodebooks(
      emb: DataFrame,
      centroidPred: Column,
      m: Int = 4,
      iters: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val vecSubs = subvectors(emb, m, idCol, embCol)
    // seed books cast to double so refined (bp-sum / division) entries and
    // kept-previous entries carry one type — float→double is exact
    var cb = pqCodebook(emb, centroidPred, m, idCol, embCol)
      .select(col("s"), col("c_id"),
        transform(col("ce"), x => x.cast("double")).as("ce"))
    val keys = Seq("s", "c_id")
    for (_ <- 0 until iters)
      cb = keepPrevious(cb, bpMean(pqAssign(vecSubs, cb, idCol), keys, "sub"), keys, Seq("ce"))
    cb
  }

  /** IVF-PQ — the full FAISS-style composition (Jégou et al. 2011): a
    * coarse IVF quantizer routes each query to `nProbe` cells, candidates
    * in the probed cells are scored APPROXIMATELY from their PQ codes via
    * an ADC table (per-query dot products against the m x 8 codebook
    * entries — 32 numbers per query, never the full vectors), the
    * `shortlist` best approximate scores per query graduate to an exact
    * cosine rerank, and the top `k` of the rerank are the answer.
    *
    * The approximate score is integer-exact across engines: per-subspace
    * `roundBp(ip_s / (|q|·|x|))` terms summed as longs (associative under
    * any aggregation order). The exact rerank then reuses the [[bruteTopK]]
    * scoring chain, so reported cosines are true cosines.
    *
    * Scale: this is THE ANN shape for 100 TB serving — the candidate pass
    * touches only (id, cell, code) rows [3 small ints per vector, ~100x
    * narrower than the embeddings], full vectors are fetched just for
    * `shortlist` rows per query, and every join is either broadcast (ADC
    * table, queries, codebooks) or equi on the cell key. Recall follows
    * nProbe (cell recall) x shortlist (ADC precision); both are knobs.
    */
  def ivfPqTopK(
      emb: DataFrame,
      queryPred: Column,
      centroidPred: Column,
      codebookPred: Column,
      k: Int = 10,
      nProbe: Int = 4,
      m: Int = 4,
      shortlist: Int = 32,
      pqIters: Int = 1,
      coarseIters: Int = 0,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val n = normalized(emb, idCol, embCol)
    val cents0 = centroids(n, centroidPred, idCol)
    // coarseIters > 0 Lloyd-refines the coarse quantizer too — the full
    // production composition (trained cells + trained books)
    val cents =
      if (coarseIters > 0) refineCentroids(n, cents0, coarseIters, idCol) else cents0
    val candidates = probedCandidates(n, cents, queryPred, nProbe, idCol)
    // PQ index: Lloyd-refined books + per-vector codes (pq_id ≠ coarse c_id)
    val cb = refinePqCodebooks(emb, codebookPred, m, pqIters, idCol, embCol)
      .select(col("s"), col("c_id").as("pq_id"), col("ce"))
    val codes = pqAssign(subvectors(emb, m, idCol, embCol),
        cb.select(col("s"), col("pq_id").as("c_id"), col("ce")), idCol)
      .select(col(idCol), col("s"), col("c_id").as("pq_id"))
    // ADC tables: every (query, subspace, book entry) inner product
    val adc = subvectors(emb.filter(queryPred), m, idCol, embCol)
      .select(col(idCol).as("q_id"), col("s"), col("sub").as("qsub"))
      .join(broadcast(cb), "s")
      .select(col("q_id"), col("s"), col("pq_id"), dot(col("qsub"), col("ce")).as("ip"))
    val qn = n.filter(queryPred).select(col(idCol).as("q_id"), col("nrm").as("qn"))
    val scored = candidates
      .join(codes, idCol)
      .join(broadcast(adc), Seq("q_id", "s", "pq_id"))
      .join(broadcast(qn), "q_id")
      .select(col("q_id"), col(idCol),
        TextOps.roundBp(col("ip") / (col("qn") * col("nrm"))).as("term_bp"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("term_bp")).as("adc_bp"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(col("adc_bp").desc, col(idCol))
    val short = scored
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col(idCol))
    val pairs = short
      .join(n, idCol)
      .join(broadcast(querySide(n, queryPred, idCol)), "q_id")
    rankTopK(queryCos(pairs, idCol), k, "q_id", idCol)
  }

  /** Per-vector metadata: dimension and L2 norm (basis points). The shape
    * check every embedding pipeline runs before trusting a corpus.
    */
  def norms(emb: DataFrame, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    emb.select(
      col(idCol),
      col("label"),
      size(col(embCol)).cast("long").as("dim"),
      TextOps.roundBp(l2Norm(col(embCol))).as("norm_bp"))
      .orderBy(col(idCol))

  /** k-NN label prediction: majority label among the brute-force top-k
    * neighbors, ties broken toward the smaller label. The "nearest-label
    * aggregation" a labeling/curation pipeline runs.
    */
  def knnLabel(
      emb: DataFrame,
      queryPred: Column,
      k: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val topk = bruteTopK(emb, queryPred, k, idCol, embCol)
    val votes = topk
      .join(emb.select(col(idCol), col("label")), idCol)
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
      .orderBy(col("q_id"))
  }
}
