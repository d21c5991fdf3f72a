package graft.operators

import graft.Checkpoints

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StableHash

/** Document deduplication — the #1 LLM-training-pipeline operation, and the
  * north-star generalization of the reference's sort-unique pipeline (its
  * only dedup is an incidental filename-set check, `Server.java:262-263`).
  *
  * Four strategies, each shuffle-bucketed — NOTHING here is all-pairs:
  *
  *  - [[exactDedup]]: hash-groupBy on a content fingerprint. One shuffle of
  *    (hash, id) pairs; at 100 TB this is the cheapest possible dedup — the
  *    shuffle carries 16-byte keys, not documents.
  *  - [[minhashBandPairs]]: MinHash + LSH banding. Shuffles are keyed on
  *    (band, band-signature) buckets, so candidate generation is
  *    O(sum of bucket sizes squared) — with b bands of r rows, a pair of
  *    docs with shingle-Jaccard s collides in at least one band with
  *    probability 1 - (1 - s^r)^b (here b=4, r=2: s=0.9 → 0.93, s=0.5 →
  *    0.66, s=0.2 → 0.15), while unrelated docs almost never share a
  *    60-bit band signature. The quadratic term only applies per-bucket;
  *    hot buckets (boilerplate shingles) are the skew risk and AQE skew
  *    handling plus a bucket-size cutoff are the standard mitigations.
  *  - [[simhash]]: per-document 16-bit sign-aggregated token-hash sketch;
  *    near-identical docs get identical (or Hamming-close) sketches. One
  *    explode + one groupBy(doc) with map-side partial sums.
  *  - [[jaccardPairs]]: exact n-gram Jaccard via an inverted shingle index
  *    (join on shingle, count intersections) — the verify step downstream
  *    of candidate generation. Scale: shuffle is keyed on shingles;
  *    stop-shingle cutoff (drop shingles in > F docs) bounds bucket fan-out
  *    exactly like the minhash hot-bucket cutoff.
  *
  * The driver's test corpus has no natural duplicates, so the declared
  * queries run these operators over [[plantedCorpus]], which unions in
  * deterministic exact and near copies — both engines (Spark and the DuckDB
  * oracle) construct the identical corpus, so results stay hash-comparable.
  */
object DedupOps {

  /** Default hot-bucket cap for the LSH candidate generators: band buckets
    * (and Jaccard postings lists) larger than this are dropped before
    * pairing. A bucket of d docs expands to d(d-1)/2 candidate pairs in ONE
    * collected row, so an unbounded boilerplate bucket is the OOM shape at
    * 100 TB — 64 docs caps a bucket's pair fan-out at ~2k pairs (~32 KB),
    * while genuine near-dup groups (a handful of copies) pass untouched.
    * Docs dropped this way can only lose pairs glued together by
    * corpus-wide boilerplate — the standard LSH recall trade. The declared
    * queries mirror the same cap in their DuckDB oracles, so the contract
    * is cross-engine exact whether or not the cap engages. A cap ≤ 0 means
    * no cap ([[effectiveCap]]); the `*CapAudit` queries show what a given
    * corpus would drop.
    */
  val DefaultMaxBucket = 64

  /** Corpus-derived plant stride: `max(id) + 1`, so planted ids land
    * strictly ABOVE every real id at ANY corpus scale. The r13 fixture
    * caveat: fixed `+100k` offsets collide with ScaleGen replica base ids
    * past ~×20 (duplicate ids, different content — both truth and found
    * counts go id-ambiguous). Multipliers 1..4 keep the four planted
    * families (exact, near, quote, splice) in disjoint ranges; the DuckDB
    * oracles mirror the same rule via [[plantStepSql]]. One extra
    * single-column max() scan per fixture build — negligible next to the
    * pairing work it feeds, and exactly the id-domain probe a production
    * plant would run (reference analog: the sentinel-domain assumption at
    * `NodeHandler.java:223` is the same bug class, baked in instead of
    * derived).
    */
  def plantStep(docs: DataFrame, idCol: String): Long =
    // coalesce: max() is NULL on an empty corpus — step 0 (plant nothing)
    // beats the opaque NPE getLong would throw
    docs.agg(coalesce(max(col(idCol)).cast("long"), lit(-1L))).head.getLong(0) + 1

  /** DuckDB scalar-subquery mirror of [[plantStep]] — coalesce included,
    * so both engines plant at step 0 on an empty corpus (max() is NULL
    * there and NULL + 1 would make every planted id NULL).
    */
  def plantStepSql(table: String, idCol: String): String =
    s"(SELECT coalesce(max($idCol) + 1, 0) FROM $table)"

  /** `documents` plus planted duplicates: an exact copy of every 10th doc
    * (id + step) and a near copy (one appended token, id + 2·step) of
    * every doc ≡ 5 (mod 10), step = [[plantStep]].
    */
  def plantedCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val step = plantStep(docs, idCol)
    val base = docs.select(col(idCol), col(textCol))
    base
      .unionByName(docs.filter(col(idCol) % 10 === 0)
        .select((col(idCol) + step).as(idCol), col(textCol)))
      .unionByName(docs.filter(col(idCol) % 10 === 5)
        .select((col(idCol) + 2 * step).as(idCol), concat(col(textCol), lit(" graftdup")).as(textCol)))
  }

  /** [[plantedCorpus]] plus a planted QUOTE doc (id + 3·[[plantStep]]) for
    * every doc ≡ 3 (mod 10): the first ⌊2n/5⌋ tokens of the parent (min 1). A quote
    * is ~100% CONTAINED in its parent but only ~40% Jaccard-similar — the
    * shape symmetric near-dup thresholds structurally miss, planted so
    * [[containmentPairs]]' declared query demonstrably catches what
    * [[jaccardPairs]] at the same threshold does not.
    */
  def plantedQuoteCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val step = plantStep(docs, idCol)
    val toks = TextOps.tokens(col(textCol))
    val cut = greatest(lit(1), floor(size(toks) * lit(2) / lit(5)).cast("int"))
    plantedCorpus(docs, idCol, textCol)
      .unionByName(docs.filter(col(idCol) % 10 === 3)
        .select((col(idCol) + 3 * step).as(idCol),
          concat_ws(" ", slice(toks, lit(1), cut)).as(textCol)))
  }

  /** [[plantedCorpus]]'s splice counterpart: `documents` plus, for every
    * doc ≡ 7 (mod 10) with ≥ 63 tokens, a SPLICE doc (id + 4·[[plantStep]]) built as
    * 10 unique filler tokens + tokens 4..63 of the parent (a 60-token
    * verbatim run) + 5 more unique fillers. The filler tokens embed the
    * doc id (`zqa<id>x<i>`), so no two splice docs share them — the only
    * cross-document repeat each splice introduces is its 60-token run.
    * This is the contamination shape [[exactSubstringSpans]] exists for: a
    * verbatim excerpt inside otherwise fresh text, with exact boundaries.
    */
  def plantedSpliceCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val step = plantStep(docs, idCol)
    val toks = TextOps.tokens(col(textCol))
    // filler embeds the PARENT id via a pre-projected alias: referencing
    // idCol directly inside the same select that re-aliases idCol to
    // id+4·step silently resolves to the NEW id (lateral column alias)
    def filler(tag: String, n: Int): Column =
      transform(sequence(lit(1), lit(n)),
        i => concat(lit(tag), col("__pid").cast("string"), lit("x"), i.cast("string")))
    val spliceToks = concat(filler("zqa", 10), slice(TextOps.tokens(col(textCol)), lit(4), lit(60)), filler("zqb", 5))
    docs.select(col(idCol), col(textCol))
      .unionByName(docs.filter(col(idCol) % 10 === 7 && size(toks) >= 63)
        .select(col(idCol).as("__pid"), col(textCol))
        .select((col("__pid") + 4 * step).as(idCol), concat_ws(" ", spliceToks).as(textCol)))
  }

  /** Exact dedup: group by md5 of the normalized token stream, keep the
    * minimum id as the group representative. Output one row per distinct
    * content: (keep_id, n_copies, fp_md5).
    */
  def exactDedup(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpus
      .select(col(idCol), md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("fp_md5"))
      .groupBy(col("fp_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp_md5"))
      .orderBy(col("keep_id"))

  /** A document's distinct word `k`-shingle set — the set every text
    * Jaccard here scores. */
  private[graft] def shingleSet(text: Column, k: Int = 3): Column =
    array_distinct(TextOps.shingles(TextOps.tokens(text), k))

  /** Exact Jaccard of two shingle sets, in bp. */
  private def setJaccardBp(a: Column, b: Column): Column =
    TextOps.roundBp(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double"))

  /** Postings Jaccard in bp: `inter` shared shingles of `na` and `nb`
    * distinct ones, union by inclusion–exclusion. */
  private def postingsJaccardBp(inter: Column, na: Column, nb: Column): Column =
    TextOps.roundBp(inter.cast("double") / (na + nb - inter).cast("double"))

  /** MinHash doc relation (idCol, s0..s{numHashes-1}, shs): one explode of
    * [[shingleSet]] + one min-aggregate, so tokenization runs once per doc.
    * Each shingle is md5-hashed ONCE and the family members derive affinely
    * from it ([[graft.functions.StableHash.familyOf]]) — md5 dominated
    * signature cost when every hash was an independent seeded call. `shs`
    * (the shingle list) rides the SAME aggregation for the verifying
    * callers; callers that never read it get it pruned.
    */
  private def minhashSigs(corpus: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame = {
    val sh = corpus.select(col(idCol), explode(shingleSet(col(textCol))).as("sh"))
      .select(col(idCol), col("sh"), StableHash.hash60(col("sh")).as("h"))
    val aggs = (0 until numHashes).map(i => min(StableHash.familyOf(col("h"), i)).as(s"s$i")) :+
      collect_list(col("sh")).as("shs")
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash band rows (idCol, bkey), one per (doc, band): band b of r =
    * numHashes / bands rows is keyed `b:s_{br}:…:s_{br+r-1}`. */
  private def bandRows(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", lit(b) +: (0 until r).map(j => col(s"s${b * r + j}")): _*)
    }
    sigs.select(col(idCol), explode(array(bandKeys: _*)).as("bkey"))
  }

  /** MinHash candidates `p = (a, b)`, a < b, one row per shared band:
    * [[bandRows]] through [[bucketPairs]]. */
  private def bandPairs(
      sigs: DataFrame, idCol: String, numHashes: Int, bands: Int, maxBucket: Int): DataFrame =
    bucketPairs(bandRows(sigs, idCol, numHashes, bands), "bkey", col(idCol), maxBucket)(
      (x, y) => struct(x.as("a"), y.as("b")))

  /** The one cap rule of every capped pairing and cap audit: a cap ≤ 0
    * means no cap. */
  private[graft] def effectiveCap(maxBucket: Int): Int =
    if (maxBucket <= 0) Int.MaxValue else maxBucket

  /** The in-array pair expander: `f(x, y)` for every element x of `arr`
    * and every y after it — on a sorted array, each pair once. */
  private[graft] def arrayPairs(arr: Column)(f: (Column, Column) => Column): Column =
    flatten(transform(arr, (x, i) => transform(slice(arr, i + lit(2), size(arr)), y => f(x, y))))

  /** The capped bucket → pair stage: collect each `key` bucket's sorted
    * `item`s into `ds`, keep the pairable buckets (≥ 2) within
    * [[effectiveCap]], and explode one row `p = f(x, y)` per in-bucket
    * pair ([[arrayPairs]]). Pairing in the
    * collected array, not by self-joining the rows: the self-join plans the
    * whole upstream pipeline twice (a diamond with no exchange reuse).
    */
  private[graft] def bucketPairs(rows: DataFrame, key: String, item: Column, maxBucket: Int)(
      f: (Column, Column) => Column): DataFrame =
    rows.groupBy(col(key)).agg(sort_array(collect_list(item)).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= effectiveCap(maxBucket))
      .select(explode(arrayPairs(col("ds"))(f)).as("p"))

  /** The wholesale-drop rollup every text and media cap audit shares ("no
    * silent caps"): keys by bucket (`sizes` holds one row per bucket with
    * its size `sz`), scores what [[effectiveCap]] drops — an over-cap
    * bucket contributes nothing, so entries_dropped counts its full size
    * and pairs_forgone its full C(sz, 2); `SimOps.nearDupCapAudit`'s
    * `participation` rows count only the quadratic remainder, and
    * `cap_semantics` names which arithmetic a row uses. The phash ×100
    * collapse showed pairs_forgone can reach 100% of the candidates while
    * wall time looks great (SKEW_scale.txt). Mirrored by [[capAuditSql]].
    * Output (one row): (bucket_kind, n_buckets, n_dropped, entries_dropped,
    * pairs_kept, pairs_forgone, hottest, cap_semantics).
    */
  private[graft] def capAudit(sizes: DataFrame, maxBucket: Int, kind: String): DataFrame = {
    val cap = effectiveCap(maxBucket)
    sizes
      .agg(
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("sz") > cap, 1L).otherwise(0L)), lit(0L))
          .as("n_dropped"),
        coalesce(sum(when(col("sz") > cap, col("sz")).otherwise(0L)), lit(0L))
          .as("entries_dropped"),
        coalesce(sum(when(col("sz").between(2, cap),
          expr("sz * (sz - 1) div 2")).otherwise(0L)), lit(0L)).as("pairs_kept"),
        coalesce(sum(when(col("sz") > cap,
          expr("sz * (sz - 1) div 2")).otherwise(0L)), lit(0L)).as("pairs_forgone"),
        coalesce(max(col("sz")), lit(0L)).as("hottest"))
      .select(lit(kind).as("bucket_kind"), col("n_buckets"), col("n_dropped"),
        col("entries_dropped"), col("pairs_kept"), col("pairs_forgone"), col("hottest"),
        lit("wholesale_drop").as("cap_semantics"))
  }

  /** The recall audits' anchor-sample rule, the one place it is written:
    * one count() of `universe`, then a row is an anchor iff
    * `hash60(id) % ⌈n / 64⌉ == 0` — ~64 hash-chosen anchors at any scale,
    * a stateless per-row predicate the DuckDB oracles reproduce.
    */
  private[graft] def anchorPred(universe: DataFrame, idCol: String): Column = {
    val every = math.max(1L, math.ceil(universe.count() / 64.0).toLong)
    StableHash.hash60(col(idCol).cast("string")) % every === 0
  }

  /** DuckDB predicate matching [[anchorPred]]: `countFrom` must be a
    * relation holding the SAME universe the Spark side counted. */
  private[graft] def anchorPredSql(idCol: String, countFrom: String): String =
    s"${StableHash.hash60Sql(s"CAST($idCol AS VARCHAR)")} % " +
      s"greatest(1, CAST(ceil((SELECT count(*) FROM $countFrom) / 64.0) AS BIGINT)) = 0"

  /** The distinct anchor-touching pairs (pa, pb) of `found` (id_a, id_b)
    * against anchors (a_id, …). */
  private[graft] def anchorFound(anch: DataFrame, found: DataFrame): DataFrame =
    found
      .join(broadcast(anch.select(col("a_id"))),
        col("id_a") === col("a_id") || col("id_b") === col("a_id"))
      .select(col("id_a").as("pa"), col("id_b").as("pb")).distinct()

  /** The anchor-shape recall report every anchor-sample audit shares, text
    * and embedding: anchor-restrict `found` ([[anchorFound]]) and fold the
    * three counts into one row (n_anchors, n_truth, n_found, recall_bp),
    * recall_bp = found·10⁴ div truth (10000 on an empty truth).
    */
  private[graft] def recallRollup(
      anch: DataFrame, truth: DataFrame, found: DataFrame): DataFrame =
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(anchorFound(anch, found).agg(count(lit(1)).as("n_found")))
      .crossJoin(anch.agg(count(lit(1)).as("n_anchors")))
      .select(col("n_anchors"), col("n_truth"), col("n_found"),
        expr(s"CASE WHEN n_truth > 0 THEN " +
          TextOps.floorDivSql("n_found * 10000", "n_truth") +
          " ELSE 10000 END").as("recall_bp"))

  /** DuckDB rollup matching [[capAudit]]: select from a CTE/subquery named
    * `bs` exposing one BIGINT column `sz` per bucket.
    */
  private[graft] def capAuditSql(maxBucket: Int, kind: String): String = {
    val cap = effectiveCap(maxBucket)
    s"SELECT '$kind' AS bucket_kind, CAST(count(*) AS BIGINT) AS n_buckets, " +
      s"CAST(coalesce(sum(CASE WHEN sz > $cap THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped, " +
      s"CAST(coalesce(sum(CASE WHEN sz > $cap THEN sz ELSE 0 END), 0) AS BIGINT) AS entries_dropped, " +
      s"CAST(coalesce(sum(CASE WHEN sz BETWEEN 2 AND $cap THEN sz * (sz - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS pairs_kept, " +
      s"CAST(coalesce(sum(CASE WHEN sz > $cap THEN sz * (sz - 1) // 2 ELSE 0 END), 0) AS BIGINT) AS pairs_forgone, " +
      "CAST(coalesce(max(sz), 0) AS BIGINT) AS hottest, " +
      "'wholesale_drop' AS cap_semantics FROM bs"
  }

  /** Cap telemetry for [[minhashBandPairs]]: keys by band bucket, counts
    * the operator's own [[bandRows]], rolls up with [[capAudit]].
    */
  def minhashCapAudit(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sizes = bandRows(minhashSigs(corpus, idCol, textCol, numHashes), idCol, numHashes, bands)
      .groupBy(col("bkey")).agg(count(lit(1)).as("sz"))
    capAudit(sizes, maxBucket, "minhash_band")
  }

  /** Cap telemetry for [[jaccardPairs]]/[[containmentPairs]]: keys by
    * shingle, counts the operators' own [[shinglePostings]], rolls up with
    * [[capAudit]] (the stop-shingle cutoff's cost on this corpus).
    */
  def jaccardCapAudit(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Int = DefaultMaxBucket): DataFrame = {
    val sizes = shinglePostings(corpus, idCol, textCol)
      .groupBy(col("sh")).agg(count(lit(1)).as("sz"))
    capAudit(sizes, maxDocFreq, "jaccard_postings")
  }

  /** Cap telemetry for [[exactSubstringSpans]]/[[substringStrike]]: keys
    * by gram hash, counts the operators' own [[gramPostings]] (occurrences
    * — one doc repeating a gram counts each), rolls up with [[capAudit]].
    */
  def substringCapAudit(
      corpus: DataFrame,
      gramLen: Int = 20,
      maxOcc: Int = DefaultMaxBucket,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sizes = gramPostings(corpus, gramLen, idCol, textCol)
      .groupBy(col("gh")).agg(count(lit(1)).as("sz"))
    capAudit(sizes, maxOcc, "substring_postings")
  }

  /** MinHash-LSH candidate pairs: keys by band bucket ([[bandRows]] over
    * `numHashes` min-hashes of the 3-shingle set, `bands` bands), scores
    * each pair by its shared-band count, pairs through [[bandPairs]]
    * (bucket-collect, not a self-join: the self-join measured 6 corpus
    * scans). Buckets over `maxBucket` are dropped before pairing — the
    * boilerplate OOM guard; ≤ 0 disables it. Output: (id_a, id_b,
    * n_shared_bands), id_a < id_b.
    */
  def minhashBandPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandPairs(minhashSigs(corpus, idCol, textCol, numHashes), idCol, numHashes, bands, maxBucket)
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("id_a"), col("id_b"))

  /** Per-document `bits`-bit SimHash sketch (doc_id, simhash): each token
    * votes ±1 on every bit of its 60-bit stable hash; the sketch bit is the
    * vote's sign. One explode + one groupBy(doc) with map-side partial sums.
    */
  private def simhashSketch(
      corpus: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits <= 60, "sketch bits limited by the 60-bit token hash")
    val tok = corpus
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col(idCol), StableHash.hash60(col("tok")).as("h"))
    val votes = (0 until bits).map(k => sum(expr(s"(shiftright(h, $k) & 1) * 2 - 1")).as(s"b$k"))
    val sketch = (0 until bits)
      .map(k => when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sketch.as("simhash"))
  }

  /** SimHash dedup: `keep_id` = min id among docs sharing a sketch —
    * identical-sketch grouping. [[simhashBallPairs]] is the recall upgrade
    * (Hamming-distance ≤ d neighbors, not just distance 0).
    */
  def simhash(corpus: DataFrame, idCol: String = "doc_id", textCol: String = "text", bits: Int = 16): DataFrame =
    simhashSketch(corpus, idCol, textCol, bits)
      .withColumn("keep_id", min(col(idCol)).over(Window.partitionBy(col("simhash"))))
      .orderBy(col(idCol))

  /** Hamming-ball SimHash near-dup pairs: keys by (band, slice value)
    * over `bands` contiguous bit slices of the `bits`-bit sketch — by
    * pigeonhole two sketches within maxDist < bands agree on ≥ 1 slice, so
    * recall within the ball is 1 — and scores each pair by the popcount of
    * the sketch XOR (both sketches ride in the bucket), keeping hamming ≤
    * `maxDist`. Pairs through [[bucketPairs]]. Output: (id_a, id_b,
    * hamming), id_a < id_b.
    */
  def simhashBallPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 32,
      bands: Int = 4,
      maxDist: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxDist < bands, s"recall guarantee needs maxDist < bands")
    val r = bits / bands
    val mask = (1L << r) - 1
    val slices = (0 until bands).map { b =>
      concat_ws(":", lit(b), shiftright(col("simhash"), b * r).bitwiseAND(lit(mask)))
    }
    val rows = simhashSketch(corpus, idCol, textCol, bits)
      .select(col(idCol), col("simhash"), explode(array(slices: _*)).as("bkey"))
    bucketPairs(rows, "bkey", struct(col(idCol).as("id"), col("simhash").as("sk")), maxBucket) {
      (x, y) => struct(x("id").as("id_a"), y("id").as("id_b"),
        bit_count(x("sk").bitwiseXOR(y("sk"))).as("d"))
    }
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(min(col("p.d")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The SimHash VERIFY leg: keys by [[simhashBallPairs]]' candidates
    * (the r17 recall audit measured the raw ball at ~7.5× truth), scores
    * each by the exact Jaccard of the two [[shingleSet]]s joined back
    * ([[setJaccardBp]]), keeps jac ≥ `thresholdBp`. Output: (id_a, id_b,
    * hamming, jac_bp), id_a < id_b, ordered.
    */
  def simhashVerifiedNearDups(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 32,
      bands: Int = 4,
      maxDist: Int = 3,
      thresholdBp: Int = 8000,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cand = simhashBallPairs(corpus, idCol, textCol, bits, bands,
      maxDist, maxBucket)
    val sl = corpus.select(col(idCol), shingleSet(col(textCol)).as("shs"))
    cand
      .join(sl.select(col(idCol).as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(sl.select(col(idCol).as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"),
        setJaccardBp(col("shs_a"), col("shs_b")).as("jac_bp"))
      .filter(col("jac_bp") >= thresholdBp)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact 3-shingle Jaccard pairs: keys by shingle, scores by postings
    * Jaccard ([[postingsJaccardBp]]) over [[shinglePairCounts]], keeps
    * jac ≥ `thresholdBp`. Never all-pairs: only docs sharing a shingle meet.
    *
    * MEASURED growth law of the pairing volume (SKEW_scale.txt, round 11,
    * "jaccardPairs pairing-volume growth law"), separating the two ways a
    * corpus grows:
    *
    *  - KEYED growth (more distinct content — ScaleGen's suffixed
    *    replication): postings multiply but never lengthen; candidate
    *    pairs measured EXACTLY linear (1,879,380 → ×30.00 at 30× →
    *    ×100.00 at 100×, max posting 32 throughout, cap idle). The r10
    *    rehearsal's 35.6× wall at 100× data is therefore sublinear on
    *    top of linear work — overhead amortization, no hidden blowup.
    *  - BOILERPLATE growth (same content repeated — unsuffixed
    *    replication, `rep=N` probe): every posting lengthens ×N, so
    *    uncapped pairing grows quadratically (measured 25k → 595k →
    *    10.3M → 167.4M at 1/4/16/64×) while the `maxDocFreq` cap bounds
    *    the actual volume at Σ_kept |ds|²/2 ≤ n_shingles·cap²/2 —
    *    measured 25k → 595k → 7.8M → 15.5M, a ×2 step where uncapped
    *    takes ×16. Past the cap the pairing cost is CONSTANT per
    *    shingle, which is the 100 TB boundedness argument in numbers.
    */
  def jaccardPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdBp: Int = 8000,
      maxDocFreq: Int = 0): DataFrame =
    shinglePairCounts(corpus, idCol, textCol, maxDocFreq)
      .select(col("id_a"), col("id_b"),
        postingsJaccardBp(col("inter"), col("n_a"), col("n_b")).as("jac_bp"))
      .filter(col("jac_bp") >= thresholdBp)
      .orderBy(col("id_a"), col("id_b"))

  /** Asymmetric n-gram CONTAINMENT pairs: C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * — the quote/excerpt detector. A short doc lifted verbatim from a longer
    * one has containment ≈ 1 in its parent while whole-doc Jaccard is only
    * |A|/|B|, far below any symmetric near-dup threshold — so Jaccard dedup
    * keeps both and the excerpt leaks into training twice. Emits every pair
    * whose larger-direction containment reaches `thresholdBp`, with the
    * symmetric Jaccard alongside so the caller can see exactly which pairs
    * only this operator finds (`jac_bp < threshold ≤ greatest(cont)`).
    *
    * Keys by shingle and pairs through [[shinglePairCounts]], as
    * [[jaccardPairs]] does.
    */
  def containmentPairs(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      thresholdBp: Int = 8000,
      maxDocFreq: Int = 0): DataFrame =
    shinglePairCounts(corpus, idCol, textCol, maxDocFreq)
      .select(
        col("id_a"), col("id_b"),
        postingsJaccardBp(col("inter"), col("n_a"), col("n_b")).as("jac_bp"),
        TextOps.roundBp(col("inter").cast("double") / col("n_a").cast("double")).as("cont_a_bp"),
        TextOps.roundBp(col("inter").cast("double") / col("n_b").cast("double")).as("cont_b_bp"))
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= thresholdBp)
      .orderBy(col("id_a"), col("id_b"))

  /** The shingle postings rows (idCol, n, sh) of [[jaccardPairs]],
    * [[containmentPairs]] and [[jaccardCapAudit]]: one row per (doc,
    * distinct shingle), n the doc's [[shingleSet]] size so the union needs
    * no second lookup. Postings are keyed by the raw shingle string:
    * hashing it measured a loss at sf0.1 (md5 hash60, 4.5 s → 5.8 s) and a
    * tie one decade up (xxhash64; HASH_trade.txt, "jaccardPairs
    * postings-key trade"), and DuckDB cannot mirror xxhash64.
    */
  private def shinglePostings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol), shingleSet(col(textCol)).as("shs"))
      // no size(shs) > 0 pre-filter: explode already drops empty arrays, and
      // a pushed-down filter would re-evaluate the whole tokenize+shingle
      // tree once more per row at the scan
      .select(col(idCol), size(col("shs")).as("n"), explode(col("shs")).as("sh"))

  /** The pair-count core of [[jaccardPairs]] / [[containmentPairs]]: keys
    * by shingle ([[shinglePostings]]), counts each pair's shared shingles
    * as `inter`, pairs through [[bucketPairs]]. Postings over `maxDocFreq`
    * docs (boilerplate, O(d²) pairs each) are dropped — an undercount only
    * for pairs glued by boilerplate. Output: (id_a < id_b, n_a, n_b, inter).
    */
  private def shinglePairCounts(
      corpus: DataFrame, idCol: String, textCol: String, maxDocFreq: Int): DataFrame =
    bucketPairs(shinglePostings(corpus, idCol, textCol), "sh",
      struct(col(idCol).as("id"), col("n")), maxDocFreq) { (x, y) =>
      struct(x("id").as("id_a"), y("id").as("id_b"), x("n").as("n_a"), y("n").as("n_b"))
    }
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .agg(count(lit(1)).as("inter"))

  /** Substring-level duplicate-SPAN pairs — the "copied paragraph"
    * complement to whole-document near-dup: keys by winnowing fingerprint
    * ([[TextOps.winnow]], MOSS-style window minima over shingle hashes,
    * ~2/(w+1) of them), scores each pair by its shared-fingerprint count
    * (kept at ≥ `minShared`), pairs through [[bucketPairs]] with postings
    * over `maxDocFreq` docs dropped as boilerplate. Output: (id_a, id_b,
    * n_shared), id_a < id_b.
    */
  def dupSpanPairs(
      corpus: DataFrame,
      minShared: Long = 2,
      maxDocFreq: Int = DefaultMaxBucket,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    bucketPairs(TextOps.winnow(corpus, idCol = idCol, textCol = textCol), "fp",
      col(idCol), maxDocFreq)((x, y) => struct(x.as("id_a"), y.as("id_b")))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The gram postings rows (idCol, pos, gh) of [[exactSubstringSpans]]
    * and [[substringCapAudit]]: one row per `gramLen`-token gram
    * occurrence, 1-based token position, [[StableHash.hash60]] of the gram.
    */
  private def gramPostings(
      corpus: DataFrame, gramLen: Int, idCol: String, textCol: String): DataFrame =
    corpus
      .select(col(idCol),
        posexplode(TextOps.shingles(TextOps.tokens(col(textCol)), gramLen)).as(Seq("p0", "g")))
      // pos cast long: the oracle's range() positions are BIGINT and the
      // driver compare wants identical schemas
      .select(col(idCol), (col("p0") + 1).cast("long").as("pos"), StableHash.hash60(col("g")).as("gh"))

  /** EXACT-substring dedup — maximal verbatim repeated token spans of
    * ≥ `gramLen` tokens across documents, with exact boundaries: the span
    * you can CUT, where [[dupSpanPairs]] only samples fingerprints (and
    * misses when every fingerprint of the run is boilerplate-capped; see
    * DedupSubstringSpec's planted-splice fixture). Keys by gram hash
    * ([[gramPostings]]; a 60-bit hash collision would take ~2^30 distinct
    * grams per posting to matter, and the oracle hashes identically),
    * pairs cross-document occurrences through [[bucketPairs]] with grams
    * over `maxOcc` OCCURRENCES dropped (one doc repeating a gram k times
    * inflates pairing k-fold; dropping a hot gram can split a span that
    * crosses it), and scores each maximal span by gaps-and-islands along
    * its (id_a, id_b, pos_a − pos_b) diagonal (the reference's sorted-run
    * merge, `NodeHandler.java:204-290`) — the window partitions by (pair,
    * offset), never a global sort. Output: (id_a, id_b, pos_a, pos_b,
    * span_len), id_a < id_b, 1-based positions, span_len ≥ gramLen.
    */
  def exactSubstringSpans(
      corpus: DataFrame,
      gramLen: Int = 20,
      maxOcc: Int = DefaultMaxBucket,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // cross-document pairs only (sort_array orders by id then pos, so x
    // before y with x.id != y.id implies x.id < y.id)
    val matches = bucketPairs(gramPostings(corpus, gramLen, idCol, textCol), "gh",
      struct(col(idCol).as("id"), col("pos").as("pos")), maxOcc) { (x, y) =>
      struct(x("id").as("id_a"), x("pos").as("pos_a"), y("id").as("id_b"), y("pos").as("pos_b"))
    }
      .select(col("p.*"))
      .filter(col("id_a") =!= col("id_b"))
    // diag materialized BEFORE the window so the islands groupBy reuses the
    // window's (id_a, id_b, diag) hash partitioning instead of re-shuffling
    // on a re-derived pos_a - pos_b expression
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag")).orderBy(col("pos_a"))
    matches
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("pos_a"), min(col("pos_b")).as("pos_b"),
        (count(lit(1)) + lit(gramLen - 1)).as("span_len"))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"), col("span_len"))
      .orderBy(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"))
  }

  /** The strike-out pass over [[exactSubstringSpans]] — the step that
    * actually EDITS the corpus (Lee et al. 2022's dedup policy): keep
    * every repeated span's minimum-id copy and remove the tokens of every
    * other occurrence. A doc's strike set is the union of `[pos_b,
    * pos_b+span_len)` over all spans where it is the HIGHER-id side;
    * overlapping strikes from different partners merge by position
    * distinctness, surviving tokens reassemble in order, and the output
    * md5 witnesses the edited text byte-for-byte cross-engine.
    *
    * Shape: spans are doc-bounded (the [[DefaultMaxBucket]]-capped
    * pairing), the strike positions explode from spans (span-volume, not
    * corpus-volume), struck tokens are marked by one LEFT join of the
    * token stream against them, and ONE per-doc aggregate produces the
    * token count, the struck count, and the reassembled text together
    * (`collect_list` skips the nulled-out struck entries; sort_array over
    * per-doc (pos, tok) structs — per-doc-sized arrays, never a window
    * over the corpus). The tokenize→posexplode pipeline — the pass that
    * re-reads every byte of text — runs ONCE (plan-audited r14: the old
    * anti-join + re-tokenized final join scanned the corpus text twice);
    * the closing left join that keeps token-free docs in the output reads
    * only the id column. Docs with every token struck (or none to begin
    * with) emit the empty-string md5, never a missing row.
    *
    * Output: (idCol, n_tokens, n_struck, clean_md5) ordered by doc id.
    */
  def substringStrike(
      corpus: DataFrame,
      gramLen: Int = 20,
      maxOcc: Int = DefaultMaxBucket,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = exactSubstringSpans(corpus, gramLen, maxOcc, idCol, textCol)
    val struckPos = spans
      .select(col("id_b").as(idCol),
        explode(sequence(col("pos_b"), col("pos_b") + col("span_len") - 1)).as("pos"))
      .distinct()
      .withColumn("struck", lit(1))
    val pos = corpus
      .select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .select(col(idCol), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val kept = pos
      .join(struckPos, Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        count(col("struck")).as("n_strk"),
        array_join(transform(
          sort_array(collect_list(
            when(col("struck").isNull, struct(col("pos"), col("tok"))))),
          s => s("tok")), " ").as("clean"))
    corpus.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_tokens"),
        coalesce(col("n_strk"), lit(0L)).as("n_struck"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
      .orderBy(col(idCol))
  }

  /** Connected components over near-dup pairs — the final dedup step: pairs
    * say who matches whom, clusters say what to DROP (keep the minimum id
    * per component, drop the rest).
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): edges are
    * kept canonically oriented big→small, and each round runs
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    minimum neighbor (or itself) — long chains halve;
    *  - small-star: every node connects its smaller neighbors (and
    *    itself) to its minimum neighbor — local stars flatten.
    *
    * The edge set converges in O(log n) rounds to stars rooted at each
    * component's minimum id — vs O(component diameter) for min-label
    * propagation, which a boilerplate-chained corpus can drive to hundreds
    * of rounds. Each half-round is ONE groupBy-aggregate (no join), and
    * the convergence signal is a per-group `changed` flag computed inside
    * that same aggregate — checking it is a scan of the just-checkpointed
    * edge list, never a second join or a recompute. Deterministic
    * (min-based), so oracle-comparable (DuckDB: recursive-CTE closure).
    *
    * Output: (doc_id, cluster_id) for every doc appearing in ≥1 pair.
    */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    dedupClustersDetailed(pairs, maxRounds)._1

  /** [[dedupClusters]] plus the round count it took — the contract the
    * chain-topology regression pins (a 33-node path must converge in
    * O(log n), not O(n), rounds).
    */
  def dedupClustersDetailed(pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // Eager localCheckpoint per round truncates the CC loop's otherwise
    // exponentially-nesting lineage. The checkpoint blocks of SUPERSEDED
    // rounds are released ([[Checkpoints.release]], off the round's own
    // plan) as soon as their successor is materialized. Only the FINAL
    // round's blocks stay alive — the caller's lazy result reads them.
    // canonical big→small orientation; `u` is always the larger endpoint
    var edges = Checkpoints.cut(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    // r20 (guide §1.2 step 1 — fewer passes, second cut): ONE lineage cut
    // per round instead of two. The large-star and small-star half-rounds
    // fuse into a single plan ([[ccRound]]) whose one checkpoint
    // materialization carries BOTH convergence flags as observed metrics
    // (the r20-batch-1 observe trick, now over the fused frame) — per
    // round that deletes a full plan+codegen+checkpoint cycle and the
    // superseded intermediate edge blocks. Identical results: small-star
    // over the un-deduplicated large-star output collects the same
    // neighbor SETS (collect_set dedups what large-star's dropped
    // (u,v)-dedup aggregate used to), both flags aggregate the same
    // per-group predicates, and the loop stops at exactly the old
    // fixpoint (pinned by DedupOpsSpec's chain-topology round counts).
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val obs = org.apache.spark.sql.Observation()
      val ss = Checkpoints.cut(
        ccRound(edges).observe(obs,
          coalesce(max(col("lsc")), lit(false)).as("lsc"),
          coalesce(max(col("ssc")), lit(false)).as("ssc")))
      Checkpoints.release(edges)
      edges = ss.drop("lsc", "ssc")
      rounds += 1
      converged = !obs.get("lsc").asInstanceOf[Boolean] &&
        !obs.get("ssc").asInstanceOf[Boolean]
    }

    // fixpoint edges are stars (v = component min): leaves point at their
    // center, centers label themselves
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
      .orderBy(col("doc_id"))
    (labels, rounds)
  }

  /** One FUSED CC round: [[smallStar]] ∘ [[largeStar]] as a single plan,
    * with both half-rounds' convergence flags carried through to the
    * output rows (`lsc` = any large-star group changed, `ssc` = any
    * small-star group changed) so ONE checkpoint materialization per
    * round both advances the edge set and reports the fixpoint test.
    *
    * Two deliberate deltas from composing the object-level half-rounds,
    * neither observable in the results:
    *  - large-star's trailing (u, v)-dedup aggregate is DROPPED — its only
    *    purpose was bounding duplicate edges between separately
    *    checkpointed half-rounds, and small-star's `collect_set`
    *    deduplicates the same pairs for free (the exploded large-star
    *    output is one row per (node → larger neighbor) edge, so there is
    *    no fan-out to bound: 3 shuffles per round instead of 4);
    *  - the `lsc` flag rides the surviving rows: every small-star group
    *    emits ≥ 1 row (u > v canonically, so u itself always survives the
    *    `w =!= m` filter), and a large-star group that emits NO rows has
    *    `changed = false` by its own predicate — so max-over-rows equals
    *    max-over-groups, the flag the unfused loop observed.
    */
  private[graft] def ccRound(e: DataFrame): DataFrame = {
    val ls = e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      .groupBy(col("x"))
      .agg(collect_set(col("y")).as("vs"))
      .select(col("x"), least(col("x"), array_min(col("vs"))).as("m"),
        filter(col("vs"), _ > col("x")).as("bigger"),
        (array_max(col("vs")) > col("x") && array_min(col("vs")) < col("x"))
          .as("lsc"))
      .select(explode(col("bigger")).as("u"), col("m").as("v"), col("lsc"))
    ls.groupBy(col("u"))
      .agg(collect_set(col("v")).as("vs"), max(col("lsc")).as("lsc"))
      .select(
        explode(array_union(col("vs"), array(col("u")))).as("w"),
        array_min(col("vs")).as("m"),
        (size(col("vs")) > 1).as("ssc"),
        col("lsc"))
      .filter(col("w") =!= col("m"))
      .select(col("w").as("u"), col("m").as("v"), col("ssc"), col("lsc"))
      .groupBy(col("u"), col("v"))
      .agg(max(col("ssc")).as("ssc"), max(col("lsc")).as("lsc"))
  }

  /** Large-star half-round of the [[dedupClusters]] CC loop, over node x
    * with neighbor set vs (both directions): m = min(x, min(vs)); emit
    * (v, m) for each v in vs with v > x. x's edges change iff it HAS a
    * larger neighbor to re-point and a smaller neighbor to point it at —
    * both facts local to the group. Object-level (r16) so PlanBudgetSpec
    * can pin the half-round's plan: scans = 0 over a checkpointed edge
    * set — a half-round that scans parquet means the checkpoint broke.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame =
    e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      .groupBy(col("x"))
      .agg(collect_set(col("y")).as("vs"))
      .select(col("x"), least(col("x"), array_min(col("vs"))).as("m"),
        filter(col("vs"), _ > col("x")).as("bigger"),
        (array_max(col("vs")) > col("x") && array_min(col("vs")) < col("x"))
          .as("changed"))
      .select(explode(col("bigger")).as("u"), col("m").as("v"), col("changed"))
      .groupBy(col("u"), col("v")).agg(max(col("changed")).as("changed"))

  /** Small-star half-round of the [[dedupClusters]] CC loop, over node u
    * with its smaller neighbors vs: m = min(vs); emit (w, m) for
    * w in vs∪{u}, w ≠ m. u's edges change iff it had more than one
    * smaller neighbor. Object-level for the same budget pin as
    * [[largeStar]].
    */
  private[graft] def smallStar(e: DataFrame): DataFrame =
    e.groupBy(col("u"))
      .agg(collect_set(col("v")).as("vs"))
      .select(
        explode(array_union(col("vs"), array(col("u")))).as("w"),
        array_min(col("vs")).as("m"),
        (size(col("vs")) > 1).as("changed"))
      .filter(col("w") =!= col("m"))
      .select(col("w").as("u"), col("m").as("v"), col("changed"))
      .groupBy(col("u"), col("v")).agg(max(col("changed")).as("changed"))

  /** Incremental dedup — the ingestion-pipeline shape: which documents of a
    * NEW batch are not already in the existing corpus? Exact content
    * fingerprints on both sides, LEFT ANTI join on the fingerprint. The
    * shuffle carries 16-byte hashes, not documents; at 100 TB the existing
    * side is a pre-computed fingerprint table, not a rescan.
    */
  def incrementalNew(
      batch: DataFrame,
      existing: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def fp(df: DataFrame) = df.select(
      col(idCol), md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("fp_md5"))
    fp(batch)
      .join(fp(existing).select(col("fp_md5")), Seq("fp_md5"), "leftanti")
      .select(col(idCol), col("fp_md5"))
      .orderBy(col(idCol))
  }

  /** Benchmark decontamination — the overlap check every training pipeline
    * runs before shipping a corpus: which training documents share any
    * word k-gram with the held-out eval/benchmark set? A contaminated doc
    * inflates eval scores; this query is the evidence table feeding the
    * drop decision. Output: (doc_id, n_hits = distinct shared k-grams),
    * contaminated docs only.
    *
    * Scale shape: both sides explode to (doc, gram-hash) — the 60-bit
    * [[graft.functions.StableHash.hash60]] instead of the raw gram string,
    * so the join key is 8 bytes, not a sentence. The benchmark side
    * (eval sets are MBs even when the corpus is TBs) dedupes to a bare
    * hash set that Spark broadcasts; the training side streams through the
    * hash join with no shuffle. Production uses k of 8-13; the declared
    * query uses k=3 because the synthetic corpus is too diverse for larger
    * k to collide at test scale (the operator is k-parameterized).
    */
  def contaminated(
      train: DataFrame,
      bench: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol),
        explode(shingleSet(col(textCol), k)).as("gram"))
      .select(col(idCol), StableHash.hash60(col("gram")).as("g"))
    val benchGrams = grams(bench).select(col("g")).distinct()
    grams(train)
      .join(broadcast(benchGrams), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col(idCol))
  }

  /** The verified pipeline's doc relation ([[minhashSigs]], shingle list
    * included) and its distinct band candidates (id_a, id_b) from
    * [[bandPairs]] — shared by [[verifiedNearDups]] and
    * [[minhashErrorAudit]], so the audit measures the operator's own
    * candidates.
    */
  private def minhashCandidates(
      corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, maxBucket: Int): (DataFrame, DataFrame) = {
    // r20 NOTE (measured, then deliberately left lazy): materializing this
    // relation (Checkpoints.cut) cut the corpus scans 6 → 2 but was a NET
    // LOSS — ReuseExchange already shares the verify-join sides' exchange,
    // the buckets branch reads a column-PRUNED aggregate (no collect_list),
    // and the checkpoint write of the shingle arrays costs more than the
    // one pruned recompute it saves (true A/B at sf0.1: q_dedup_verified
    // +5%, q_recall_audit_minhash +43%). Details: OPTIMIZATION_r20.md.
    val docRel = minhashSigs(corpus, idCol, textCol, numHashes)
    val cands = bandPairs(docRel, idCol, numHashes, bands, maxBucket)
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    (docRel, cands)
  }

  /** The production near-dup pipeline: keys by MinHash band
    * ([[minhashCandidates]]), scores each candidate by the exact Jaccard of
    * the two shingle lists joined back ([[setJaccardBp]]), keeps jac ≥
    * `thresholdBp`. One aggregation yields signature and shingle list, so
    * the band path and both verify joins read the SAME shuffle
    * (ReuseExchange — asserted in PlanSpec). Output: (id_a, id_b, jac_bp).
    */
  def verifiedNearDups(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      thresholdBp: Int = 8000,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (docRel, cands) = minhashCandidates(corpus, idCol, textCol, numHashes, bands, maxBucket)
    cands
      .join(docRel.select(col(idCol).as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(docRel.select(col(idCol).as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"), setJaccardBp(col("shs_a"), col("shs_b")).as("jac_bp"))
      .filter(col("jac_bp") >= thresholdBp)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** RECALL audit for the MinHash-LSH leg — the text member of the
    * r13 recall-audit pair (`SimOps.nearDupRecallAudit` is the embedding
    * one): the cap audit prices dropped candidates, this prices the pairs
    * the BANDING never surfaces (the S-curve's left shoulder: a pair at
    * Jaccard j shares a band with probability 1 − (1 − j^r)^b). Truth is
    * the exact shingle Jaccard ≥ `thresholdBp` over pairs touching ~64
    * hash-chosen ANCHOR docs, computed through the inverted shingle index
    * restricted to anchor postings — O(Σ docfreq(anchor shingles)), never
    * corpus² — by postings arithmetic (each posting carries its doc's
    * distinct-shingle count; the hit count per pair IS the intersection,
    * union by inclusion–exclusion — the [[jaccardPairs]] core's rule), so
    * the shingle pipeline runs once; found is the verified pipeline's
    * anchor-touching pairs. One count() + the deterministic id-hash
    * anchor rule, so the oracle reproduces the sample.
    *
    * Output (one row): (n_anchors, n_truth, n_found, recall_bp).
    */
  def minhashRecallAudit(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      thresholdBp: Int = 8000,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (anch, truth) = jaccardAnchorTruth(corpus, idCol, textCol, thresholdBp)
    val vp = verifiedNearDups(corpus, idCol, textCol, numHashes, bands,
      thresholdBp, maxBucket)
    recallRollup(anch, truth, vp)
  }

  /** The anchor-sample exact-Jaccard truth every TEXT recall audit
    * shares (the lexical mirror of SimOps' embedding anchorTruth): ~64
    * hash-chosen anchor docs, exact 3-shingle Jaccard of every doc
    * against the broadcast anchors via postings arithmetic — each
    * posting carries its doc's distinct-shingle count, so the exact
    * Jaccard is inter/(n_a + n_d − inter) with inter counted from the
    * anchor-postings hits directly (shingle arrays are array_distinct,
    * so the hit count IS the intersection size; the pre-r14 shape
    * re-ran the tokenize+shingle pipeline a second time — plan-audited
    * 24 → 18 corpus scans). Returns (anchors (a_id, a_shs),
    * truth pairs (pa, pb) at ≥ thresholdBp).
    */
  private def jaccardAnchorTruth(
      corpus: DataFrame, idCol: String, textCol: String, thresholdBp: Int)
      : (DataFrame, DataFrame) = {
    val (anch, scores) = anchorJaccardScores(corpus, idCol, textCol)
    val truth = scores
      .select(
        least(col("a_id"), col(idCol)).as("pa"),
        greatest(col("a_id"), col(idCol)).as("pb"),
        col("jac_bp"))
      .filter(col("jac_bp") >= thresholdBp)
      .select(col("pa"), col("pb")).distinct()
    (anch, truth)
  }

  /** The anchor-postings exact-Jaccard SCORE stage shared by
    * [[jaccardAnchorTruth]] (which thresholds it into recall truth) and
    * [[hardNegativesText]] (which band-filters and ranks it) — the
    * shared-helper anti-drift rule: the mining op scores candidates with
    * the SAME arithmetic the recall audits call truth. Returns
    * (anchors (a_id, a_shs), scores (a_id, idCol, jac_bp) — one row per
    * (anchor, doc) sharing ≥ 1 shingle, exact Jaccard in bp via postings
    * arithmetic: the hit count per pair IS the intersection, union by
    * inclusion–exclusion).
    */
  private def anchorJaccardScores(
      corpus: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val isAnchor = anchorPred(corpus, idCol)
    val s = corpus.select(col(idCol), shingleSet(col(textCol)).as("shs"))
    val anch = s.filter(isAnchor)
      .select(col(idCol).as("a_id"), col("shs").as("a_shs"))
    val ainv = anch.select(col("a_id"), size(col("a_shs")).as("n_a"),
      explode(col("a_shs")).as("sh"))
    val inv = s.select(col(idCol), size(col("shs")).as("n_d"),
      explode(col("shs")).as("sh"))
    val scores = inv.join(broadcast(ainv), Seq("sh"))
      .filter(col(idCol) =!= col("a_id"))
      .groupBy(col("a_id"), col("n_a"), col(idCol), col("n_d"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a_id"), col(idCol),
        postingsJaccardBp(col("inter"), col("n_a"), col("n_d")).as("jac_bp"))
    (anch, scores)
  }

  /** Hard-negative mining on the TEXT side — per anchor doc, the top-`k`
    * most LEXICALLY similar docs that fail the exact-Jaccard near-dup
    * threshold: similar enough to be informative contrastive negatives,
    * not so similar they are actually positives
    * ([[graft.operators.SimOps.hardNegatives]] is the embedding member;
    * retrieval training mines text negatives from lexical search, and a
    * near-duplicate labeled "negative" poisons the loss). Candidates and
    * scores are the anchor-postings exact-Jaccard stage shared with the
    * recall audits ([[anchorJaccardScores]] — what the audits call
    * truth, mining ranks), band-filtered to `jac_bp < dupBp` BEFORE
    * ranking where `dupBp` defaults to the SAME ≥ 8000 bp rule
    * [[verifiedNearDups]] verifies at — what dedup would collapse,
    * mining never emits. The boundary tests the bp-ROUNDED Jaccard so
    * both engines agree exactly.
    *
    * Scale shape: one shingle pipeline pass + the anchor-postings join
    * (O(Σ docfreq(anchor shingles)), never corpus²) + one per-anchor
    * window over the surviving candidates. Output:
    * (a_id, rank, idCol, jac_bp), rank re-packed over survivors,
    * ordered (a_id, rank).
    */
  def hardNegativesText(
      corpus: DataFrame,
      k: Int = 3,
      dupBp: Int = 8000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (_, scores) = anchorJaccardScores(corpus, idCol, textCol)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("jac_bp").desc, col(idCol))
    scores
      .filter(col("jac_bp") < dupBp)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("a_id"), col("rank"), col(idCol), col("jac_bp"))
      .orderBy(col("a_id"), col("rank"))
  }

  /** RECALL audit for [[simhashBallPairs]] — the SimHash leg of the text
    * recall-audit family, scored against the SAME anchor-sample exact
    * Jaccard truth as [[minhashRecallAudit]] (identical anchor rule,
    * identical truth threshold), so the two text sketches' recall
    * numbers are directly comparable on one corpus: what the Hamming-≤
    * maxDist ball over a `bits`-bit SimHash sketch finds of the
    * jac ≥ threshold truth, band-miss and cap loss included. The known
    * asymmetry this prices: SimHash is a token-SET sketch (one flipped
    * bit per drifted token vote), so high-Jaccard pairs usually land
    * within the ball, but the sketch can also hash dissimilar docs close
    * — recall here is the half production cares about. Unlike the
    * verified MinHash pipeline, ball pairs are CANDIDATES (no Jaccard
    * verify), so the report separates them: `n_candidates` is the
    * anchor-touching ball-pair volume (the precision side — what
    * [[simhashVerifiedNearDups]] scores), `n_found` is the candidates
    * that are truth pairs, recall_bp = n_found/n_truth, and
    * precision_bp = n_found/n_candidates — the two sides of the
    * candidate set in one row.
    *
    * Output (one row):
    * (n_anchors, n_truth, n_candidates, n_found, recall_bp, precision_bp).
    */
  def simhashRecallAudit(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 32,
      bands: Int = 4,
      maxDist: Int = 3,
      thresholdBp: Int = 8000,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (anch, truth) = jaccardAnchorTruth(corpus, idCol, textCol, thresholdBp)
    val fa = anchorFound(anch,
      simhashBallPairs(corpus, idCol, textCol, bits, bands, maxDist, maxBucket))
    val hit = fa.join(truth, Seq("pa", "pb"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(fa.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(count(lit(1)).as("n_found")))
      .crossJoin(anch.agg(count(lit(1)).as("n_anchors")))
      .select(col("n_anchors"), col("n_truth"), col("n_candidates"),
        col("n_found"),
        expr(s"CASE WHEN n_truth > 0 THEN " +
          TextOps.floorDivSql("n_found * 10000", "n_truth") +
          " ELSE 10000 END").as("recall_bp"),
        expr(s"CASE WHEN n_candidates > 0 THEN " +
          TextOps.floorDivSql("n_found * 10000", "n_candidates") +
          " ELSE 10000 END").as("precision_bp"))
  }

  /** Sketch-error audit of the MinHash estimator: keys by
    * [[verifiedNearDups]]' own candidates and doc relation
    * ([[minhashCandidates]]), scores each pair by signature agreement
    * (est_bp = matches·10⁴ div numHashes, quantized to eighths at 8 hashes)
    * beside the exact Jaccard ([[setJaccardBp]]). Output: (id_a, id_b,
    * est_bp, exact_bp, abs_err_bp), id_a < id_b.
    */
  def minhashErrorAudit(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (docRel, cands) = minhashCandidates(corpus, idCol, textCol, numHashes, bands, maxBucket)
    val sig = array((0 until numHashes).map(i => col(s"s$i")): _*)
    cands
      .join(docRel.select(col(idCol).as("id_a"), sig.as("sig_a"), col("shs").as("shs_a")), "id_a")
      .join(docRel.select(col(idCol).as("id_b"), sig.as("sig_b"), col("shs").as("shs_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        expr(s"CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), " +
          s"z -> z)) * 10000 DIV $numHashes AS BIGINT)").as("est_bp"),
        setJaccardBp(col("shs_a"), col("shs_b")).as("exact_bp"))
      .withColumn("abs_err_bp", abs(col("est_bp") - col("exact_bp")))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The retention policy after clustering — the last step of a real dedup
    * pipeline: per cluster, keep the highest-quality member (ties → lowest
    * doc id). `clusters` is [[dedupClusters]]' (doc_id, cluster_id);
    * `quality` is any per-doc (doc_id, quality_bp) scorer (the declared
    * q_quality one in the flagship query).
    *
    * One window pass: the member count and the rank share the cluster_id
    * partitioning, so Spark plans a single shuffle. State is O(clustered
    * docs) — unclustered docs never enter the shuffle and are implicitly
    * kept.
    *
    * Output: (cluster_id, n_docs, keep_id, keep_quality_bp) per cluster.
    */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("cluster_id"))
    val wr = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_bp").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("n_docs", count(lit(1)).over(wc))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_docs"), col("doc_id").as("keep_id"),
        col("quality_bp").as("keep_quality_bp"))
      .orderBy(col("cluster_id"))
  }

  /** Deletion propagation through near-dup clusters — the takedown /
    * right-to-be-forgotten maintenance pass every production corpus
    * eventually runs: tombstoned documents leave the pair graph, and the
    * clusters they belonged to must be RE-DERIVED, not patched, because a
    * removed doc can be the only bridge between two halves of its cluster
    * (re-electing `min(surviving ids)` per OLD cluster would silently keep
    * two now-disconnected groups under one representative — the naive
    * patch is WRONG, which is why this is an operator and not a filter).
    * Connected components re-run over the surviving pair set; surviving
    * members of every AFFECTED cluster (old cluster ∩ tombstones ≠ ∅)
    * report their old and new labels.
    *
    * Scale shape: the before-labels are one [[dedupClusters]] closure
    * (at 100 TB they are the STORED cluster table, not a recompute); the
    * re-derivation closure runs over the AFFECTED-CLUSTER SUBGRAPH only —
    * a pair's two endpoints always share a component, so semi-joining
    * `id_a` against affected-cluster members selects exactly the pairs
    * whose clusters changed, and the second closure's state is
    * O(members of affected clusters), never the corpus (takedowns are
    * rare; this is the incremental-maintenance bound that makes the op
    * runnable per takedown batch instead of per full re-cluster). The
    * tombstone joins are metadata-sized. Docs whose every pair died
    * become singletons: `new_cluster = doc_id`, `now_singleton = 1`.
    *
    * Output: (doc_id, old_cluster, new_cluster, rep_changed,
    * now_singleton) — one row per surviving member of an affected
    * cluster, ordered by doc_id.
    */
  def dedupForget(pairs: DataFrame, tombstones: DataFrame): DataFrame = {
    // materialize the pair set ONCE (r20, guide §2.4/§3.3): the recompute
    // entry consumes `pairs` twice — the forward-pass clustering and the
    // surviving-pairs restriction — and when the caller hands a live
    // derivation chain (q_dedup_forget's LSH→verify, q_embed_forget's
    // sign-LSH) the whole chain executed twice (PLANPROBE r19:
    // q_dedup_forget documents.parquet x3 with only 4 reused exchanges).
    // One lineage cut is exactly the stored-pair-table production story
    // ([[dedupForgetWith]]'s scaladoc) applied at fixture scale; callers
    // that already pass a stored/spilled table pay one cheap extra copy
    // of a small pair relation. Before/after: OPTIMIZATION_r20.md.
    val p = graft.Checkpoints.cut(pairs)
    dedupForgetWith(dedupClusters(p), p, tombstones)
  }

  /** [[dedupForget]] with CALLER-SUPPLIED before-labels — the production
    * form: at 100 TB the forward pass's (doc_id, cluster_id) table is
    * STORED, so a takedown batch pays only the metadata joins plus the
    * affected-subgraph closure — never a corpus-wide re-cluster.
    * [[dedupForget]] is exactly this with `before = dedupClusters(pairs)`
    * (spec-pinned equal on a materialized-labels fixture).
    */
  def dedupForgetWith(
      before: DataFrame, pairs: DataFrame, tombstones: DataFrame): DataFrame = {
    val tomb = tombstones.select(col("doc_id")).distinct()
    val affected = before.join(tomb, Seq("doc_id"), "leftsemi")
      .select(col("cluster_id")).distinct()
    val affectedDocs = before.join(affected, Seq("cluster_id"), "leftsemi")
      .select(col("doc_id"))
    val survivingAffectedPairs = pairs
      .join(tomb.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
      .join(tomb.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
      .join(affectedDocs.select(col("doc_id").as("id_a")), Seq("id_a"), "leftsemi")
    val after = dedupClusters(survivingAffectedPairs)
      .withColumnRenamed("cluster_id", "nc")
    before
      .join(affected, Seq("cluster_id"), "leftsemi")
      .join(tomb, Seq("doc_id"), "left_anti")
      .withColumnRenamed("cluster_id", "old_cluster")
      .join(after, Seq("doc_id"), "left")
      .select(col("doc_id"), col("old_cluster"),
        coalesce(col("nc"), col("doc_id")).as("new_cluster"),
        when(coalesce(col("nc"), col("doc_id")) =!= col("old_cluster"), 1L)
          .otherwise(0L).as("rep_changed"),
        when(col("nc").isNull, 1L).otherwise(0L).as("now_singleton"))
      .orderBy(col("doc_id"))
  }

  /** Blocked edit-distance entity resolution — the record-linkage / fuzzy-
    * join workload (Köpcke & Rahm's blocking+matching decomposition): find,
    * for every record, its best approximate match in a LATER source,
    * comparing bounded title keys under Levenshtein distance. The
    * cross-source contract makes this the linkage complement of
    * [[jaccardPairs]] (which finds within-corpus near-copies): here two
    * catalogs describe the same entities with small textual drift and the
    * task is picking each record's counterpart.
    *
    * Blocking is what makes edit-distance matching tractable at 100 TB:
    * Levenshtein admits no algebraic index, so candidate pairs MUST come
    * from an equi-joinable key — here the title's first `blockLen` chars.
    * The pair space is then one hash join on the block key, never
    * all-pairs; an edit inside the block prefix loses the pair (recall
    * traded for the equi-join, the standard blocking compromise — run
    * multiple passes with different keys to recover). Per-block fan-out is
    * bounded by block cardinality; prefix blocks on natural text are
    * near-uniform, and a skewed key distribution takes the same hot-bucket
    * cap [[jaccardPairs]] uses. Best-match selection is one `row_number`
    * window partitioned by the left id — the partitioning the pair join
    * already produced, so no extra shuffle stage beyond the window sort.
    *
    * The distance itself runs on `titleLen`-bounded strings: O(titleLen²)
    * per candidate pair through Spark's codegen'd `levenshtein`, never on
    * full documents.
    *
    * Output: (a_doc_id, b_doc_id, a_source, b_source, lev_dist) — the
    * single best (min distance, then min b_doc_id) match per left doc
    * with dist <= maxDist, a_source < b_source.
    */
  def entityMatch(docs: DataFrame, titleLen: Int = 40, blockLen: Int = 12,
      maxDist: Int = 10, idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val t = docs.select(col(idCol).as("id"), col(srcCol).as("src"),
      substring(col(textCol), 1, titleLen).as("title"),
      substring(col(textCol), 1, blockLen).as("blk"))
    val a = t.select(col("blk"), col("id").as("a_doc_id"),
      col("src").as("a_source"), col("title").as("a_title"))
    val b = t.select(col("blk"), col("id").as("b_doc_id"),
      col("src").as("b_source"), col("title").as("b_title"))
    // the bounded form early-exits the DP once a row's minimum passes
    // maxDist (returns -1): per-pair cost O(maxDist * titleLen), not
    // O(titleLen^2) — the difference between a cheap verify and a hot
    // loop when blocks put dissimilar titles together
    val pairs = a.join(b, Seq("blk"))
      .filter(col("a_source") < col("b_source"))
      .withColumn("lev_dist",
        levenshtein(col("a_title"), col("b_title"), maxDist).cast("long"))
      .filter(col("lev_dist") >= 0L && col("lev_dist") <= maxDist)
    val w = Window.partitionBy(col("a_doc_id"))
      .orderBy(col("lev_dist"), col("b_doc_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a_doc_id"), col("b_doc_id"), col("a_source"),
        col("b_source"), col("lev_dist"))
      .orderBy(col("a_doc_id"))
  }

  /** Cross-SOURCE shingle contamination matrix — "these two crawls
    * substantially overlap; drop or down-weight one": keys by shingle (the
    * distinct (source, shingle) rows; postings hold distinct sources, so
    * they are bounded by the source count, never corpus size), scores each
    * source pair by exact k-shingle Jaccard in bp (pair-hit intersections,
    * union by inclusion–exclusion over the broadcast per-source totals),
    * pairs with [[arrayPairs]]. Output: (src_a, src_b, n_a, n_b, n_common,
    * jaccard_bp), src_a < src_b.
    */
  def sourceOverlap(docs: DataFrame, k: Int = 3, textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val sh = docs
      .select(col(srcCol).as("src"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), k)).as("sh"))
      .distinct()
    val perSrc = sh.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    val postings = sh.groupBy(col("sh")).agg(sort_array(collect_set(col("src"))).as("srcs"))
    val pairs = arrayPairs(col("srcs"))((x, y) => struct(x.as("a"), y.as("b")))
    postings
      .select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(perSrc.select(col("src").as("src_a"), col("n_sh").as("n_a"))), "src_a")
      .join(broadcast(perSrc.select(col("src").as("src_b"), col("n_sh").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("(n_common * 10000) div (n_a + n_b - n_common)").as("jaccard_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
