package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.StableHash

/** Text-analysis operators over the `documents` table (north-star extension;
  * the reference's only string handling is `split`/`trim` while parsing ints,
  * `NodeHandler.java:66,69`).
  *
  * Everything here is built from codegen'd `functions._` / higher-order array
  * functions — no UDFs — so whole-stage codegen spans the full pipeline and
  * the same expressions are reproducible in the DuckDB oracle. Scale: all
  * operators are embarrassingly parallel per-document projections except
  * [[tokenFrequency]], which is one explode + hash-shuffle with map-side
  * partial aggregation.
  */
object TextOps {

  /** Normalized whitespace tokenization: lowercase, split on `\s+`, drop
    * empties. Identical to DuckDB
    * `list_filter(string_split_regex(lower(trim(x)),'\s+'), t -> length(t)>0)`.
    */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Word-level k-shingles.
    *
    * Built as a zip of k offset slices, NOT `transform(sequence(1, n),
    * i => element_at(toks, i+j))`: higher-order lambdas re-evaluate every
    * non-lambda subtree per element, so with `toks` being a regex tokenize,
    * the indexed formulation re-tokenized each document ~3x per shingle
    * (measured 22 s for 5000 docs at sf0.1; this form is ~50x cheaper).
    * Guarded: short docs short-circuit to an empty array (`sequence(1, 0)`
    * would count DOWN; `slice` with non-positive length throws).
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks) - (k - 1)
    val offsetSlices = (0 until k).map(j => slice(toks, lit(j + 1), n))
    val zipped = offsetSlices.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    when(size(toks) >= k, zipped).otherwise(array().cast("array<string>"))
  }

  /** Corpus-wide token frequency: explode + count. */
  def tokenFrequency(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("token"))

  /** Per-document token statistics, including a BPE-ish subword count:
    * runs of letters count 1, each digit counts 1, each other non-space
    * symbol counts 1 — the standard cheap proxy for tokenizer load.
    */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    // sizes cast to long: DuckDB len()/length() are BIGINT, Spark size() is
    // int — the oracle compare wants identical schemas on both sides
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      length(col(textCol)).cast("long").as("n_chars_raw"),
      expr(s"size(regexp_extract_all(lower($textCol), '[a-z]+|[0-9]|[^a-z0-9\\\\s]', 0))")
        .cast("long").as("n_bpeish_tokens"))
      .orderBy(col(idCol))
  }

  /** Document fingerprints: `fp_md5` = md5 of the normalized token stream
    * (exact-dedup key) and `fp_min_shingle` = min 60-bit hash over word
    * 3-shingles (winnowing-style rolling fingerprint: stable under small
    * edits away from the minimizing shingle).
    */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      md5(concat_ws(" ", toks)).as("fp_md5"),
      array_min(transform(shingles(toks, 3), s => StableHash.hash60(s)))
        .as("fp_min_shingle"))
      .orderBy(col(idCol))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every k-shingle, then
    * keep the MINIMUM hash in each sliding window of `w` consecutive
    * shingle hashes; the distinct minima are the document's fingerprint
    * set. Guarantees: any shared run of ≥ w+k-1 tokens between two docs
    * yields at least one shared fingerprint, while only ~2/(w+1) of hashes
    * are kept. Output: one row per (doc, fingerprint), totally ordered —
    * join-ready for overlap detection (the 100 TB shape: fingerprints are
    * the inverted-index key, never full shingle sets).
    */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // posexplode + a sliding window-function min, NOT array slicing: every
    // array formulation (offset slices or indexed lambdas) re-evaluates
    // the whole tokenize→shingle→hash subtree once per slice/element
    // (measured 13 s for 5000 docs; this form is ~10x cheaper). One
    // evaluation per document, one hash-shuffle on the doc id.
    val hs = transform(shingles(tokens(col(textCol)), k), s => StableHash.hash60(s))
    val exploded = docs.select(col(idCol), posexplode(hs).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy(col(idCol))
    val sliding = byDoc.orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    exploded
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("wmin", min(col("h")).over(sliding))
      // window positions 0..n-w; docs shorter than w keep pos 0 (min of all)
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col(idCol), col("wmin").as("fp"))
      .distinct()
      .orderBy(col(idCol), col("fp"))
  }

  /** Split documents into overlapping fixed-width token chunks — the
    * context-window packing step of a training pipeline. Chunk i covers
    * tokens [i*stride, i*stride + width); the last chunk may be short;
    * docs of ≤ width tokens yield one chunk. Embarrassingly parallel
    * per-document (an explode, no shuffle until the caller aggregates);
    * chunk content is emitted as an md5 + token count so rows stay narrow.
    */
  def chunkDocs(docs: DataFrame, width: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stride > 0 && width >= stride, "need 0 < stride <= width")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= width, lit(1))
      .otherwise(floor((n - width + stride - 1).cast("double") / stride).cast("int") + 1)
    val chunks = when(n === 0, array().cast("array<struct<idx:int,ctoks:array<string>>>"))
      .otherwise(transform(
        sequence(lit(0), nChunks - 1),
        i => struct(i.as("idx"), slice(toks, i * stride + 1, lit(width)).as("ctoks"))))
    docs
      .select(col(idCol), explode(chunks).as("c"))
      .select(
        col(idCol),
        col("c.idx").cast("long").as("chunk_id"),
        size(col("c.ctoks")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.ctoks"))).as("chunk_md5"))
      .orderBy(col(idCol), col("chunk_id"))
  }

  /** Top-k terms per document by tf-idf-style weighting.
    *
    * Classic tf-idf takes `ln(N/df)`; engine `ln` is libm-dependent, so the
    * idf here is the INTEGER-scaled ratio `(N * 10000) div df` — same
    * monotonicity (rare terms weigh more), exact in any engine. Score =
    * tf * scaled_idf; ties broken by token. Two shuffles (doc-term counts,
    * term doc-frequency) + a window per doc — no driver-side vocabulary.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(n_docs * 10000) div df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("score"))
      .orderBy(col(idCol), col("rank"))
  }

  /** Stopword marker lists per language for [[langId]]. Tiny on purpose:
    * the heuristic must be reproducible in plain SQL on both engines.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "a"),
    "es" -> Seq("el", "la", "de", "que", "los", "es", "una"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans"))

  /** Every language's markers, distinct and sorted: the stopword list of
    * [[gopherQuality]] and [[qualityScore]].
    */
  val stopwords: Seq[String] = langMarkers.flatMap(_._2).distinct.sorted

  /** The language-ID rule over token array `toks`: one `score_<lang>`
    * column per `langMarkers` entry (its marker-token hits), and the ladder
    * over those columns that predicts the first language (in `langMarkers`
    * order) whose score equals the max, or "unknown" when no marker hits.
    * The ladder reads the score columns by name, so it goes in a select
    * after the one that projects them.
    */
  private def langLadder(toks: Column): (Seq[Column], Column) = {
    val scores = langMarkers.map { case (lang, ws) =>
      size(filter(toks, t => t.isInCollection(ws))).as(s"score_$lang")
    }
    val maxScore = greatest(langMarkers.map { case (lang, _) => col(s"score_$lang") }: _*)
    val ladder = langMarkers.reverse.foldLeft(lit("unknown")) { case (els, (lang, _)) =>
      when(maxScore > 0 && col(s"score_$lang") === maxScore, lit(lang)).otherwise(els)
    }
    (scores, ladder)
  }

  /** N-gram/stopword language-ID heuristic: score each language by marker-
    * token hits; predict the first language (in `langMarkers` order) whose
    * score equals the max, or "unknown" when no marker hits at all.
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (scores, ladder) = langLadder(tokens(col(textCol)))
    docs.select((col(idCol) +: scores): _*)
      .select(col(idCol), ladder.as("lang_pred"))
      .orderBy(col(idCol))
  }

  /** Language-ID confusion matrix — the audit that belongs next to any
    * heuristic classifier ([[langId]]): predictions crossed against the
    * table's ground-truth `lang` label, with each cell's share of its
    * actual-language row in bp. The prediction ladder is inlined (not a
    * join back against [[langId]]'s output) so the whole audit is ONE
    * corpus scan into a |langs|²-bounded aggregate; row totals are a
    * window over that tiny matrix. Output: (lang_actual, lang_pred,
    * n_docs, share_bp) ordered by (actual, pred) — the diagonal's
    * share_bp is per-class recall.
    */
  def langConfusion(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val (scores, ladder) = langLadder(tokens(col(textCol)))
    docs.select((col(langCol).as("lang_actual") +: scores): _*)
      .select(col("lang_actual"), ladder.as("lang_pred"))
      .groupBy(col("lang_actual"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang_actual"))))
      .select(col("lang_actual"), col("lang_pred"), col("n_docs"),
        expr("n_docs * 10000 div total").as("share_bp"))
      .orderBy(col("lang_actual"), col("lang_pred"))
  }

  /** Cross-engine decimal rounding to basis points (4 decimals, as BIGINT).
    *
    * Engine-native `round(double, 4)` is NOT portable: for the identical
    * IEEE double 0.43374999999999997 Spark rounds to 0.4337 (correct for the
    * actual value) while DuckDB returns 0.4338 (it rounds the shortest
    * decimal rendering). `floor(x * 10^4 + 0.5)` uses only IEEE multiply/
    * add/floor, which every engine computes bit-identically — so scores are
    * emitted as integer basis points, not rounded doubles.
    */
  def roundBp(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)).cast("long")

  /** DuckDB fragment matching [[roundBp]]. */
  def roundBpSql(e: String): String = s"CAST(floor(($e) * 10000.0 + 0.5) AS BIGINT)"

  /** Cross-engine FLOOR division of two integer expressions — ONE string
    * feeding both Spark (`expr`) and DuckDB. Spark's `div` truncates toward
    * zero while DuckDB's `//` floors, so they disagree exactly when the
    * quotient is negative, and neither spells integer division the same
    * way — so the portable form goes through doubles, shaped to stay
    * INTEGER-EXACT at the 100 TB design point:
    * `(a − mod_floor(a, b))` is computed in exact BIGINT arithmetic
    * (`((a % b) + b) % b` is the sign-of-b mod; both engines' `%`
    * truncates, so the composite is engine-identical), making the
    * numerator an exact multiple of b whose true quotient IS the floor;
    * the double divide then recovers that integer via `floor(q + 0.5)`
    * ([[roundBp]]'s proven fragment). Operand rounding costs ≤ ~2 ulp
    * relative error, so the result is exact whenever |floor(a/b)| < 2^49
    * — regardless of |a|, PROVIDED |b| < 2^62 (the mod-floor composite
    * `((a % b) + b) % b` itself overflows BIGINT past that, and
    * `a − mod_floor` can overflow at a = −2^63 with huge |b|; every bp
    * divisor here is ≤ ~10⁸, ten decades inside the bound). The
    * previous single-divide form
    * (`floor(a/b)` on doubles) was exact only while |a| < 2^53: a v_bp /
    * t_vbp / n·10⁴ SUM can exceed 2^53 at 100 TB while the bp-scale
    * quotients (means, shares) never approach 2^49, which is why the
    * subtract-mod shape is the default and not a scaladoc caveat.
    */
  def floorDivSql(a: String, b: String): String =
    s"CAST(floor(CAST(($a) - (((($a) % ($b)) + ($b)) % ($b)) AS DOUBLE) / " +
      s"CAST(($b) AS DOUBLE) + 0.5) AS BIGINT)"

  /** PII patterns shared by [[piiRedact]] and its DuckDB mirror. Kept to the
    * RE2 ∩ java.util.regex dialect (char classes, `\b`, `\d`, bounded
    * repeats — no lookarounds) so both engines match identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
  val IdRe = "\\b\\d{9,}\\b"

  /** Deterministic PII planting: every 50th doc gets an email (derived from
    * its id), a phone number, and a 12-digit account id appended — so the
    * redaction query demonstrably finds and masks known PII.
    */
  def plantedPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      when(col(idCol) % 50 === 0,
        concat(col(textCol), lit(" contact user"), col(idCol).cast("string"),
          lit("@example.com call 555-123-4567 acct 900123456780")))
        .otherwise(col(textCol)))

  /** PII redaction — the scrub pass every training-data pipeline runs before
    * a corpus ships: emails → `<EMAIL>`, phone numbers → `<PHONE>`, long
    * digit runs → `<ID>`, applied in that order (emails first so their
    * digits never count as ids). Output per doc: match counts (on the
    * original text) and the md5 of the redacted text — the fingerprint a
    * downstream exact-dedup would consume, proving the masked text itself
    * is deterministic. Pure per-document projection; scales as a map.
    */
  def piiRedact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        IdRe, "<ID>")
    docs.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(IdRe), lit(0))).cast("long").as("n_ids"),
      md5(redacted).as("fp_md5"))
      .orderBy(col(idCol))
  }

  /** Gopher-style repetition/quality rules (Rae et al. 2021, App. A):
    * keyed by doc id; scores mean word length, alphabetic- and symbol-word
    * ratios, repeated 2-/3-gram ratios, the character share of the most
    * frequent 2-gram and the stopword count, all bp longs ([[roundBp]]),
    * and a pass/fail gate on bp integers only. The gram tables come from
    * `gramCounts`; the 2-gram table feeds both the repetition ratio and the
    * top-gram pick, so its shuffle is planned once (ReusedExchange).
    *
    * Narrow scans that explode ONE tokenize into scalar rows, deliberately
    * NOT a single wide array projection: higher-order array functions are
    * interpreted (no whole-stage codegen, no common-subexpression
    * elimination), so eight token-array ratios re-tokenize the document
    * once per occurrence — measured 12 s at sf0.1 vs ~2.5 s for this form.
    */
  def gopherQuality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // token scalars (docs with zero tokens drop out, matching the
    // len(t) > 0 oracle filter)
    val scalars = docs
      .select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol))
      .agg(
        max(col("n_chars")).as("n_chars"),
        count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).cast("long").as("sum_tok_chars"),
        count_if(col("tok").rlike("[a-z]")).as("n_alpha"),
        count_if(col("tok").rlike("[^a-z0-9]")).as("n_sym"),
        count_if(col("tok").isInCollection(stopwords)).as("n_stop"))
    // (doc, n-gram g) occurrence counts `cnt`, and their per-doc total and
    // distinct count
    def gramCounts(n: Int): DataFrame = docs
      .select(col(idCol), explode(shingles(tokens(col(textCol)), n)).as("g"))
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("cnt"))
    def repeats(gc: DataFrame, n: Int): DataFrame = gc.groupBy(col(idCol))
      .agg(sum(col("cnt")).as(s"n$n"), count(lit(1)).as(s"nd$n"))
    val gc2 = gramCounts(2)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("cnt").desc, col("g"))
    val top2 = gc2
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") === 1)
      .select(col(idCol), (col("cnt") * length(col("g"))).as("top2_chars"))
    val rep2 = repeats(gc2, 2)
    val rep3 = repeats(gramCounts(3), 3)
    val dbl = (c: Column) => c.cast("double")
    scalars
      .join(rep2, Seq(idCol), "left")
      .join(top2, Seq(idCol), "left")
      .join(rep3, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        roundBp(dbl(col("sum_tok_chars")) / dbl(col("n_tokens"))).as("mean_word_len_bp"),
        roundBp(dbl(col("n_alpha")) / dbl(col("n_tokens"))).as("alpha_word_bp"),
        roundBp(dbl(col("n_sym")) / dbl(col("n_tokens"))).as("symbol_word_bp"),
        roundBp(when(col("n2").isNotNull, lit(1.0) - dbl(col("nd2")) / dbl(col("n2")))
          .otherwise(lit(0.0))).as("rep_2gram_bp"),
        roundBp(when(col("n3").isNotNull, lit(1.0) - dbl(col("nd3")) / dbl(col("n3")))
          .otherwise(lit(0.0))).as("rep_3gram_bp"),
        roundBp(dbl(coalesce(col("top2_chars"), lit(0L))) / dbl(col("n_chars")))
          .as("top_2gram_char_bp"),
        col("n_stop"))
      .withColumn("gopher_pass",
        (col("mean_word_len_bp") >= 30000L && col("mean_word_len_bp") <= 100000L &&
          col("alpha_word_bp") >= 8000L && col("symbol_word_bp") <= 1000L &&
          col("rep_2gram_bp") < 2000L && col("top_2gram_char_bp") < 2000L &&
          col("n_stop") >= 2L).cast("long"))
      .orderBy(col(idCol))
  }

  /** BM25 ranking of documents against a fixed query-term set: keyed by
    * doc id, scored by Robertson BM25 (k1 = 1.2, b = 0.75) with the
    * integer idf surrogate `(N * 10000) div df` in place of the libm `ln`
    * ([[tfidfTopTerms]]' rationale). Per-(doc, term) scores are bp-rounded
    * FIRST, so the per-doc total is a sum of longs, exact under any
    * partial-aggregation order. The term filter runs before the shuffle,
    * so only query-term occurrences travel; the top `k` come from
    * [[SortOps.rankedTopK]].
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val dl = docs.select(col(idCol), size(toks).cast("long").as("dl"))
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = docs
      .select(col(idCol), explode(toks).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val idfS = expr("(n_docs * 10000) div df").cast("double")
    val frac = (tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD / col("avgdl"))))
    val perTerm = tf
      .join(broadcast(df), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .select(col(idCol), roundBp(idfS * frac).as("term_bp"))
    SortOps.rankedTopK(
      perTerm.groupBy(col(idCol)).agg(sum(col("term_bp")).as("score_bp")),
      k, Seq(col("score_bp").desc, col(idCol)), Seq(col(idCol), col("score_bp")))
  }

  /** Positional-postings phrase search — the inverted-index workload the
    * original MapReduce papers used as the motivating example, taken to its
    * query side: build (term, doc, position) postings, then answer an
    * adjacent-token phrase query by position-offset intersection. The
    * postings build is [[tokenFrequency]]'s explode with positions kept;
    * the phrase match is the standard merge of per-term posting lists,
    * expressed relationally as k-1 equi-joins on (doc, pos) with each
    * term's positions shifted left by its phrase offset — a match exists
    * exactly where all shifted lists agree.
    *
    * Scale shape: the term predicate applies map-side directly after the
    * explode, so only postings of the k query terms ever shuffle — volume
    * bounded by those terms' corpus frequency, not corpus size (the same
    * bound [[bm25]] rides). Each join is an equi-join on (doc, pos), all
    * k-1 of them sharing one key distribution, and the final per-doc
    * count reuses the same doc partitioning. No window, no all-pairs, no
    * driver state; a stop-word-heavy phrase degrades to the frequency of
    * its RAREST term once the optimizer reorders the joins under AQE.
    *
    * Output: (doc_id, n_hits, first_pos) for documents containing the
    * phrase as adjacent tokens; positions 1-based (oracle's
    * `generate_subscripts` convention).
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one word")
    val postings = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos0", "term")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), col("term"))
    val first = postings.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matches = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(
          postings.filter(col("term") === w)
            .select(col(idCol), (col("pos") - i).as("pos")),
          Seq(idCol, "pos"))
    }
    matches.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
      .orderBy(col(idCol))
  }

  /** The first step of BPE tokenizer training: keyed by adjacent
    * character pair within tokens, scored by corpus count — the most
    * frequent pair IS the first merge rule ([[bpeMerges]] iterates it).
    * Pairs come from `sequence` + `substring` (both engines index strings
    * identically); one hash aggregation bounded by the pair vocabulary,
    * then [[SortOps.rankedTopK]]. Output: (rank, pair, n), rank over
    * (n desc, pair).
    */
  def bpePairCounts(docs: DataFrame, k: Int = 20, textCol: String = "text"): DataFrame = {
    val pairs = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(
        expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
    SortOps.rankedTopK(pairs.groupBy(col("pair")).agg(count(lit(1)).as("n")),
      k, Seq(col("n").desc, col("pair")), Seq(col("pair"), col("n")))
  }

  /** The word-bigram stream: `keep` plus one row per bigram `bg`
    * ("w1 w2") of each document's tokens.
    */
  private[graft] def bigramStream(docs: DataFrame, keep: Seq[Column],
      textCol: String): DataFrame =
    docs.select(keep :+ explode(shingles(tokens(col(textCol)), 2)).as("bg"): _*)

  /** The corpus bigram table (bg, n12) over a [[bigramStream]]: one hash
    * aggregation with map-side combine, bounded by vocab², not the corpus.
    */
  private[graft] def bigramTable(stream: DataFrame): DataFrame =
    stream.groupBy(col("bg")).agg(count(lit(1)).as("n12"))

  /** Word `i` (0 = prefix, 1 = suffix) of a bigram `bg`. */
  private def bigramWord(i: Int): Column = expr(s"split(bg, ' ')[$i]")

  /** The per-key integer mean of `score`: rows grouped by `keys`, counted
    * as `nName`, and `sum div count` as `meanName` — the doc-score rollup of
    * the surprisal family, all integer so DuckDB agrees exactly.
    */
  private[graft] def keyedMean(scored: DataFrame, keys: Seq[String], score: String,
      nName: String, meanName: String): DataFrame =
    scored.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(nName), sum(col(score)).as("sum_s"))
      .select(keys.map(col) ++ Seq(col(nName), expr(s"sum_s div $nName").as(meanName)): _*)

  /** Good-Turing count-of-counts over word bigrams: keyed by bigram
    * frequency r, it counts the bigram TYPES seen exactly r times (N_r)
    * and their token mass r·N_r — the Good-Turing/Katz smoothing input.
    * A histogram over [[bigramTable]], whose key space is the
    * distinct-frequency set.
    */
  def bigramFreqOfFreqs(docs: DataFrame, textCol: String = "text"): DataFrame =
    bigramTable(bigramStream(docs, Nil, textCol))
      .groupBy(col("n12").as("freq")).agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("freq") * col("n_types"))
      .orderBy(col("freq"))

  /** MLE bigram language-model table: keyed by bigram (w1, w2), scored by
    * P(w2 | w1) = `(n12 * 10000) div n1`, where the prefix mass n1 is the
    * sum of [[bigramTable]] counts sharing w1 (a groupBy + join on that
    * table — no second corpus pass). Top `k` by (n12 desc, w1, w2) through
    * [[SortOps.rankedTopK]]. Output: (rank, w1, w2, n12, n1, cond_bp).
    */
  def bigramCondProb(docs: DataFrame, k: Int = 20, textCol: String = "text"): DataFrame = {
    val counts = bigramTable(bigramStream(docs, Nil, textCol))
      .select(bigramWord(0).as("w1"), bigramWord(1).as("w2"), col("n12"))
    val prefix = counts.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    SortOps.rankedTopK(
      counts.join(prefix, "w1").withColumn("cond_bp", expr("(n12 * 10000) div n1")),
      k, Seq(col("n12").desc, col("w1"), col("w2")),
      Seq(col("w1"), col("w2"), col("n12"), col("n1"), col("cond_bp")))
  }

  /** Per-document bigram surprisal: keyed by doc id, scored by the
    * integer mean ([[keyedMean]]) over the doc's bigrams of
    * `(n1 * 10000) div n12` — the exact reciprocal of [[bigramCondProb]]'s
    * `cond_bp`. It flags improbable word-to-word transitions, which
    * unigram [[lmSurprisal]] cannot see (it scores "the the the the" as
    * maximally probable). The scored [[bigramTable]] is broadcast back
    * onto the [[bigramStream]]. Docs with fewer than 2 tokens have no bigrams
    * and no row. Output: (idCol, n_bigrams, avg_surprisal_bp).
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bg = bigramStream(docs, Seq(col(idCol)), textCol)
    // prefix mass as a window over the vocab²-bounded bigram table, NOT a
    // groupBy+self-join (a diamond that would scan the corpus twice for
    // the broadcast subtree — plan-audited to at most two total scans)
    val wPrefix = Window.partitionBy(bigramWord(0))
    val scored = bigramTable(bg)
      .withColumn("n1", sum(col("n12")).over(wPrefix))
      .select(col("bg"), expr("(n1 * 10000) div n12").as("s"))
    keyedMean(bg.join(broadcast(scored), "bg"), Seq(idCol), "s", "n_bigrams",
      "avg_surprisal_bp").orderBy(col(idCol))
  }

  /** Per-document interpolated Kneser–Ney bigram score (Kneser & Ney 1995;
    * Chen & Goodman 1998): keyed by doc id, scored by the integer mean
    * ([[keyedMean]]) of, with absolute discount D = 3/4,
    *
    *   P_KN(w2|w1) = (n12 − D)/n1 + (D·N1+(w1,·)/n1) · N1+(·,w2)/T
    *
    * where n1 = prefix token mass, N1+(w1,·) = distinct followers of w1,
    * N1+(·,w2) = distinct predecessors of w2 (the continuation count),
    * T = distinct bigram types. Every scored bigram is observed, so
    * n12 ≥ 1 and the discount never floors at zero. Multiplying through by
    * 4T gives the exact rational ((4·n12−3)·T + 3·N1r·N1l) / (4·n1·T),
    * carried in decimal(38,0) (the oracle in HUGEINT — BIGINT would RAISE
    * on overflow where Spark longs wrap silently, the r10 OPQ lesson) and
    * floored to bp. The statistics are windows over [[bigramTable]]; the
    * scored table is broadcast back onto the [[bigramStream]] — the same
    * two-scan plan as [[bigramSurprisal]]. Output: (idCol, n_bigrams, avg_kn_bp).
    */
  def kneserNeyScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bg = bigramStream(docs, Seq(col(idCol)), textCol)
    val wPrefix = Window.partitionBy(bigramWord(0))
    val wSuffix = Window.partitionBy(bigramWord(1))
    // both prefix statistics in ONE select so they share a single Window
    // node (chained withColumn interposes Projects that block
    // CollapseWindow — plan-audited: two exchanges over the bigram table,
    // not three)
    val table = bigramTable(bg)
      .select(col("bg"), col("n12"),
        sum(col("n12")).over(wPrefix).as("n1"),
        count(lit(1)).over(wPrefix).as("n1r"))
      .withColumn("n1l", count(lit(1)).over(wSuffix))
    val tTot = table.agg(count(lit(1)).as("t_types"))
    val scored = table.crossJoin(broadcast(tTot))
      .select(col("bg"), expr(
        "CAST((CAST(4*n12 - 3 AS DECIMAL(38,0)) * t_types + " +
          "CAST(3 AS DECIMAL(38,0)) * n1r * n1l) * 10000 div " +
          "(CAST(4 AS DECIMAL(38,0)) * n1 * t_types) AS BIGINT)").as("kn_bp"))
    keyedMean(bg.join(broadcast(scored), "bg"), Seq(idCol), "kn_bp", "n_bigrams",
      "avg_kn_bp").orderBy(col(idCol))
  }

  /** Exclusive running sum of `c` over `w`: the rows strictly before the
    * current one, 0 on the first row — the prefix of every histogram rank
    * and packing offset here.
    */
  private[graft] def sumBefore(c: Column, w: WindowSpec): Column =
    coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Competition rank `rankName` of `value` within `group` (ties share a
    * rank — SQL `rank()`; `desc` ranks larger values first), plus the
    * group's row count as `totalName` when given. Built from the (group,
    * value) HISTOGRAM — a hash aggregation bounded by distinct values,
    * cumulated by [[sumBefore]] over that tiny table and collected as a
    * local literal table ([[graft.Local]]) — never a per-group row window,
    * which would put a whole group (≫ one executor at 100 TB) in one task.
    */
  private[graft] def histRank(df: DataFrame, group: String, value: String, desc: Boolean,
      rankName: String, totalName: Option[String] = None): DataFrame = {
    val byGroup = Window.partitionBy(col(group))
    val ranked = df.groupBy(col(group), col(value)).agg(count(lit(1)).as("n"))
      .withColumn(rankName, sumBefore(col("n"),
        byGroup.orderBy(if (desc) col(value).desc else col(value))) + 1)
    graft.Local.localized(totalName.fold(ranked)(t =>
      ranked.withColumn(t, sum(col("n")).over(byGroup))).drop("n"))
  }

  /** Multi-signal quality rank fusion, per source: keyed by (source, doc
    * id); each document's token count, distinct-token count and char
    * length (one scan, array functions, no explode) are ranked within its
    * source, fused by Borda count (sum of ranks, smaller = better), and
    * the fused rank calibrated to a per-source percentile in bp. Every rank
    * is a [[histRank]], so ties share a rank and no per-source row window
    * exists.
    *
    * Plan discipline: the signal table is built in ONE corpus pass and
    * persisted; the four histograms are derived from the cache, and the
    * cache is released before the lazy result is returned ([[graft.Local]]'s
    * no-leak rule). The returned plan is one fresh corpus scan
    * broadcast-joined to four local literal tables — two corpus scans end
    * to end, where the naive lazy composition re-derives the
    * tokenize-and-aggregate subtree seven times.
    *
    * Boundedness caveat: the collected histograms are DISTINCT-VALUE
    * sized, not corpus sized — integer token/char counts concentrate on
    * ≲10⁵ distinct values at any corpus scale, the same argument that
    * makes them broadcastable. A corpus engineered so every doc is
    * distinct in every signal degrades the Borda histogram toward n rows;
    * the production guard is signal quantization (log-bucket the counts
    * before ranking), which this declared query skips only to keep the
    * oracle comparison on raw values.
    *
    * Output: (source, doc_id, r_tokens, r_distinct, r_chars, borda,
    * pct_bp), pct_bp = share of same-source docs not strictly better, in
    * bp (best doc = 10000), ordered by (source, doc_id).
    */
  def qualityFusion(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    def signals(df: DataFrame): DataFrame = df.select(col("source"), col(idCol),
      size(toks).cast("long").as("n_tok"),
      size(array_distinct(toks)).cast("long").as("n_div"),
      length(col(textCol)).cast("long").as("n_chars"))
    val sig = signals(docs).persist()
    val (rTok, rDiv, rChars) =
      (histRank(sig, "source", "n_tok", desc = true, "r_tokens"),
        histRank(sig, "source", "n_div", desc = true, "r_distinct"),
        histRank(sig, "source", "n_chars", desc = true, "r_chars"))
    def fuse(s: DataFrame): DataFrame = s
      .join(broadcast(rTok), Seq("source", "n_tok"))
      .join(broadcast(rDiv), Seq("source", "n_div"))
      .join(broadcast(rChars), Seq("source", "n_chars"))
      .withColumn("borda", col("r_tokens") + col("r_distinct") + col("r_chars"))
    val bordaHist = histRank(fuse(sig), "source", "borda", desc = false, "r_borda",
      Some("n_src"))
    sig.unpersist(blocking = false)
    fuse(signals(docs)).join(broadcast(bordaHist), Seq("source", "borda"))
      .select(col("source"), col(idCol),
        col("r_tokens"), col("r_distinct"), col("r_chars"), col("borda"),
        expr("(n_src - r_borda + 1) * 10000 div n_src").as("pct_bp"))
      .orderBy(col("source"), col(idCol))
  }

  /** Plant deterministic HTML around each document — title/head, heading,
    * paragraph, inline `<b>` markup on a content word, and a footer with
    * planted character entities — so [[htmlExtract]] demonstrates REAL
    * markup stripping on markup that genuinely exists in the value. Both
    * engines rebuild the identical wrapper from (id, text).
    */
  def plantHtml(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), concat(
      lit("<html><head><title>doc "), col(idCol),
      lit("</title></head><body><h1>Doc "), col(idCol), lit("</h1><p>"),
      expr(s"replace($textCol, ' merge ', ' <b>merge</b> ')"),
      lit("</p><footer>copy &amp; share &lt;freely&gt;</footer></body></html>"))
      .as("html"))

  /** HTML→text extraction — the first step of every web-corpus pipeline
    * (the trafilatura/jusText slot): strip tags, THEN decode character
    * entities (the order matters — decoding first would turn planted
    * `&lt;` content into something the tag regex eats), then collapse
    * whitespace. Tag stripping is one codegen'd `regexp_replace`
    * (`<[^>]*>` — RE2/Java-identical), entity decode is a chain of plain
    * `replace`, innermost-first so `&amp;lt;` can never double-decode.
    * Deliberately not DOM-aware (title text survives, scripts would too);
    * the output contract is "visible character stream", which is what
    * dedup/quality scoring downstream want.
    *
    * Output: (idCol, clean_len, n_tags, clean_md5) — the md5 is the
    * cross-engine witness that the extracted STRING is byte-identical,
    * not just same-length. Pure per-row expressions: scan-side, no
    * shuffle except the final order.
    */
  def htmlExtract(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    plantHtml(docs, idCol, textCol)
      .withColumn("stripped", regexp_replace(col("html"), "<[^>]*>", " "))
      .withColumn("clean", trim(regexp_replace(
        expr("replace(replace(replace(stripped, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"),
        "\\s+", " ")))
      .select(col(idCol),
        length(col("clean")).cast("long").as("clean_len"),
        (length(col("html")) - length(expr("replace(html, '<', '')")))
          .cast("long").as("n_tags"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col(idCol))

  /** Iterative BPE tokenizer training — `nMerges` rounds of (count adjacent
    * symbol pairs, pick the most frequent, greedily merge it everywhere),
    * the full algorithm whose single recount step is [[bpePairCounts]].
    *
    * Scale shape: the state is the WORD-FREQUENCY table (distinct tokens x
    * corpus count), bounded by the vocabulary, not the corpus — the one
    * corpus-sized pass is the initial token count. Each round is two
    * vocab-bounded shuffles (pair recount; per-word symbol rebuild) driven
    * by a driver loop, with the 1-row winning pair broadcast back into the
    * merge application. State is persisted per round so round k doesn't
    * re-derive rounds 1..k-1 once per downstream branch.
    *
    * Greedy left-to-right application without a sequential scan: within a
    * word, the positions where (sym, next) equals the winning pair form
    * maximal runs of consecutive indices; greedy merging keeps exactly the
    * 1st, 3rd, 5th... position of each run ("aaaa" + pair (a,a) -> "aa aa",
    * not three overlapping merges). Runs and parity are window functions,
    * so the whole round stays relational — no per-word loop.
    *
    * Output: one row per merge rule, (step, left_sym, right_sym, merged, n),
    * in learned order — exactly a BPE tokenizer's merges file.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 3, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (state, rules, pending) = bpeTrain(docs, nMerges, textCol)
    // rules are local literals; the final state (never materialized) and
    // the last round's inputs are all unused here
    (state +: pending).foreach(_.unpersist(blocking = false))
    if (rules.isEmpty)
      // degenerate corpus (no adjacent pair anywhere): zero rules, same schema
      Seq.empty[(Int, String, String, String, Long)]
        .toDF("step", "left_sym", "right_sym", "merged", "n")
    else rules.reduce(_ union _).orderBy(col("step"))
  }

  /** The BPE training loop shared by [[bpeMerges]] (returns the rules) and
    * [[bpeEncode]] (returns the trained segmentation): `nMerges` rounds
    * over the vocab-bounded (word, cnt, syms) state. See [[bpeMerges]] for
    * the shape and determinism argument.
    *
    * Cache lifecycle (this loop was a 32 s outlier when left lazy): each
    * round eagerly materializes `pairs` once — the winning pair is a SINGLE
    * row of a vocab-bounded aggregation, so collecting it to the driver is
    * the same O(1) exchange as [[SortOps]]' min/max bound fetch, and that
    * action doubles as the persist trigger. The merge application then
    * filters on the collected literals (no join against a lazy 1-row frame,
    * which re-derived `pairs` once per consumer), and each round's collect
    * doubles as the materializer of the PREVIOUS round's rebuilt state, so
    * the superseded round releases right after it. Returned rules are
    * driver-local literal frames. The returned final state is LAZY — the
    * caller's first action materializes it from the still-cached last-round
    * `pairs` (returned as the pending seq), after which the caller must
    * unpersist both the state and the pending frames.
    */
  private def bpeTrain(docs: DataFrame, nMerges: Int, textCol: String)
      : (DataFrame, Seq[DataFrame], Seq[DataFrame]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // vocab-bounded state: (word, corpus count, current symbol segmentation)
    var state = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // char segmentation via indexed substring (NOT split on a lookahead
      // regex — RE2-based engines can't mirror it)
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .persist()
    val rules = Seq.newBuilder[DataFrame]
    // round k's top-1 collect is the action that materializes round k's
    // `state` and `pairs` into cache; the round k-1 frames it superseded
    // are released right after it
    var superseded = Seq.empty[DataFrame]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      step += 1
      val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
      val pairs = state
        .select(col("word"), col("cnt"), posexplode(col("syms")).as(Seq("pos", "sym")))
        .withColumn("nxt", lead(col("sym"), 1).over(byPos))
        .persist()
      val topOpt = pairs
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("cnt")).cast("long").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .collect().headOption
      superseded.foreach(_.unpersist(blocking = false))
      if (topOpt.isEmpty) {
        // no adjacent pair left anywhere (empty corpus, all 1-symbol words,
        // or the vocab fully merged before nMerges rounds): stop with the
        // rules learned so far — a degenerate corpus is legal input, not a
        // crash. `pairs` becomes the pending frame the caller releases.
        exhausted = true
        superseded = Seq(pairs)
      } else {
      val top = topOpt.get
      val (a, b, nWin) = (top.getString(0), top.getString(1), top.getLong(2))
      rules += Seq((step, a, b, a + b, nWin))
        .toDF("step", "left_sym", "right_sym", "merged", "n")
      // Merge application, join-free: greedy winners are the odd ranks of
      // each maximal run of consecutive matching positions, and "consumed"
      // is just lag(keep) — three window passes plus the rebuild
      // aggregation, ALL clustered by `word`, so hash(word) from the first
      // window satisfies every downstream distribution and the whole
      // rebuild is one shuffle (the previous keptAt/consumedAt self-joins
      // were two more shuffles each).
      val matched = col("sym") === lit(a) && col("nxt") === lit(b)
      val next = pairs
        .withColumn("cum", sum(when(matched, 1).otherwise(0)).over(byPos))
        // rank among matched rows = cum, so pos - cum is constant per run
        .withColumn("run", when(matched, col("pos") - col("cum")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("word"), col("run")).orderBy(col("pos"))))
        .withColumn("keep", matched && col("rn") % 2 === 1)
        .withColumn("consumed", coalesce(lag(col("keep"), 1).over(byPos), lit(false)))
        .filter(!col("consumed"))
        .withColumn("sym2",
          when(col("keep"), concat(col("sym"), col("nxt"))).otherwise(col("sym")))
        .groupBy(col("word"), col("cnt"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, sym2))), x -> x.sym2)")
          .as("syms"))
        .persist()
      superseded = Seq(state, pairs)
      state = next
      }
    }
    (state, rules.result(), superseded)
  }

  /** Tokenizer APPLICATION — encode the corpus with the merges [[bpeMerges]]
    * learned: per document, the word count and the BPE token count under
    * the trained segmentation. This is the pipeline's token-budget step —
    * the number that decides packing, pricing, and mixture weights is the
    * POST-BPE count, not the whitespace count.
    *
    * Because training segmentations are per WORD, encoding is a broadcast
    * join of the token stream against the vocab-bounded (word → segment
    * count) table and one aggregation — the corpus is never re-segmented
    * character by character at encode time. Docs whose text has no tokens
    * produce no row (nothing to encode).
    *
    * The (word → segment count) table is collected to the driver and
    * re-emitted as a local literal frame: the broadcast join would ship
    * exactly those rows to the driver anyway, and making it literal (a)
    * lets the trained state be unpersisted here instead of leaking for the
    * session lifetime, and (b) removes the whole training loop from the
    * returned plan's lineage, so downstream consumers ([[packCounts]]) can
    * recompute this frame for pennies.
    *
    * Driver-memory contract: the collect is bounded by VOCAB size (distinct
    * words), not corpus size — a broadcast join would ship the same rows
    * through the driver anyway. `maxVocabRows` caps it defensively: if the
    * distinct-word count exceeds the cap (web-scale corpora with unbounded
    * token vocabularies), encoding keeps only the `maxVocabRows` most
    * frequent words; words outside the kept head fall back to character
    * segmentation (wlen = length(word)) — what BPE emits for a word none
    * of whose merges were retained. At the default cap the sf-scale output
    * is byte-identical to the uncapped path.
    *
    * Output: (doc_id, n_words, n_bpe_tokens) ordered by doc id.
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxVocabRows: Int = 4 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (state, _, pending) = bpeTrain(docs, nMerges, textCol)
    // this collect is the final state's first (and only) action — it
    // materializes it from the cached last training round, so everything
    // the loop left cached can be released right after. Bounded by the
    // head-vocab cap, never the corpus (see scaladoc).
    val lens = state
      .select(col("word"), col("cnt"), size(col("syms")).cast("long").as("wlen"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocabRows)
      .select(col("word"), col("wlen"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (state +: pending).foreach(_.unpersist(blocking = false))
    val wordLens = lens.toDF("word", "wlen")
    docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .join(broadcast(wordLens), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(coalesce(col("wlen"), length(col("word")).cast("long")))
          .as("n_bpe_tokens"))
      .orderBy(col(idCol))
  }

  /** Unigram-LM tokenizer training (Kudo 2018, the SentencePiece model) —
    * the probabilistic counterpart to greedy [[bpeMerges]]: seed a piece
    * vocabulary from frequent substrings, then EM — E: segment every word
    * into the minimum-cost piece sequence under current piece costs
    * (Viterbi); M: re-estimate piece counts from the chosen segmentations
    * and recompute costs. Costs are an INTEGER fixed-point −log2 p in
    * sixteenth-bit units: C(x) = `16·⌊log2 x⌋ + ((x·16) div 2^⌊log2 x⌋) −
    * 16` (floor-log2 from the binary digit count, plus a linear mantissa
    * refinement — monotone, deterministic, engine-exact), and cost(p) =
    * C(N) − C(cnt p) ≈ 16·(−log2 p). A LINEAR surrogate like
    * [[lmSurprisal]]'s `N div cnt` is wrong here: it penalizes rare
    * pieces linearly, so L single chars always beat one L-char piece and
    * EM collapses to the alphabet; the log surrogate preserves the real
    * unigram-LM trade (one medium-rare piece ≪ many common chars). True
    * SentencePiece scores with `ln p` (libm-dependent) and prunes by
    * likelihood loss; the fixed-point surrogate keeps the argmin
    * structure bit-identical in any engine, so a DuckDB oracle verifies
    * the trained table exactly.
    *
    * The Viterbi step is enumerated, not DP: a word of L chars has
    * 2^(L−1) segmentations (cut/no-cut at each boundary), generated as a
    * mask explode and scored relationally — all pieces of a candidate
    * segmentation must be in vocab (inner join + count check), total cost
    * is an integer sum, and the argmin per word breaks ties by (cost,
    * piece count, mask). Enumeration is exact and join-only; it is viable
    * because it runs over the DISTINCT-WORD table (vocab-bounded, never
    * the corpus — the one corpus-sized pass is the initial token count)
    * with `maxWordLen` capping the explode at 2^(maxWordLen−1) rows per
    * word (longer words are excluded from training, the standard
    * rare-long-token guard; a banded DP over piece length would replace
    * the 2^L factor with L·maxPieceLen joins if the cap ever needed
    * lifting).
    *
    * Driver state is bounded by the VOCAB (the [[bpeEncode]] contract):
    * each round collects the ≤ `seedVocab` + alphabet piece table,
    * recomputes integer costs locally, and re-emits them as a literal
    * broadcast frame — keeping every round's plan shallow instead of
    * growing an unbounded lineage. Feasibility is invariant: round 1's
    * vocab contains every single char (always segmentable), and a word's
    * round-k best pieces all survive into round k+1 (they have count > 0),
    * so no word ever becomes unsegmentable.
    *
    * Output: the trained piece table (piece, cnt, score_s16) after
    * `rounds` EM rounds, ordered by (cnt desc, piece) — cnt the piece's
    * weighted use count under the final segmentation, score_s16 its
    * sixteenth-bit surprisal under the final model.
    */
  def unigramLm(docs: DataFrame, rounds: Int = 2, maxPieceLen: Int = 4,
      seedVocab: Int = 60, maxWordLen: Int = 12, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .persist()
    // seed candidates: every substring of length 1..maxPieceLen, weighted
    // by word frequency, occurrences counted per position
    val cand = words
      .select(col("wf"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
            s -> transform(sequence(1, least($maxPieceLen, length(word) - s + 1)),
            l -> substring(word, s, l))))""")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
    // top-V head ∪ every single char (the feasibility floor). The
    // single-partition window is over the candidate table — bounded by
    // vocab × maxPieceLen substrings, never the corpus.
    val ranked = cand.withColumn("rn",
      row_number().over(Window.orderBy(col("cnt").desc, col("piece"))))
    var vocab: Seq[(String, Long)] = ranked
      .filter(col("rn") <= seedVocab || length(col("piece")) === 1)
      .select(col("piece"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy { case (p, c) => (-c, p) }

    // C(x) in sixteenth-bits — mirrors the oracle's
    // 16*(length(bin(x))-1) + (x*16 // 2^(length(bin(x))-1)) - 16
    def c16(x: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
      16L * e + ((x << 4) >> e) - 16L
    }
    def costs(v: Seq[(String, Long)]): Seq[(String, Long)] = {
      val n = v.map(_._2).sum
      v.map { case (p, c) => (p, c16(n) - c16(c)) }
    }

    // all 2^(L-1) segmentations of each distinct word, as (mask, pieces);
    // cut after char i iff bit i-1 of mask is set. The inner sequence is
    // guarded against Spark's descending sequence(1, 0) on 1-char words.
    val segs = words
      .select(col("word"), col("wf"), explode(
        expr("sequence(0, shiftleft(1L, length(word) - 1) - 1)")).as("mask"))
      .withColumn("cuts", expr(
        """filter(sequence(1, greatest(length(word) - 1, 1)),
           i -> i < length(word) AND (shiftright(mask, i - 1) & 1) = 1)"""))
      .withColumn("bounds", expr(
        "concat(array(0), cuts, array(length(word)))"))
      .withColumn("pieces", expr(
        """transform(sequence(1, size(bounds) - 1),
           j -> substring(word, element_at(bounds, j) + 1,
                element_at(bounds, j + 1) - element_at(bounds, j)))"""))
      .select(col("word"), col("wf"), col("mask"), col("pieces"))
      .persist()

    (1 to rounds).foreach { _ =>
      val costDf = costs(vocab).toDF("piece", "cost_s16")
      val best = segs
        .select(col("word"), col("wf"), col("mask"),
          size(col("pieces")).as("np"), explode(col("pieces")).as("piece"))
        .join(broadcast(costDf), "piece")
        .groupBy(col("word"), col("wf"), col("mask"), col("np"))
        .agg(count(lit(1)).as("nk"), sum(col("cost_s16")).as("total"))
        .filter(col("nk") === col("np"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("word"))
            .orderBy(col("total"), col("np"), col("mask"))))
        .filter(col("rn") === 1)
      vocab = best
        .select(col("word"), col("wf"), col("mask"))
        .join(segs.select(col("word"), col("mask"), col("pieces")), Seq("word", "mask"))
        .select(col("wf"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (p, c) => (-c, p) }
    }
    words.unpersist(blocking = false)
    segs.unpersist(blocking = false)
    val costMap = costs(vocab).toMap
    vocab.map { case (p, c) => (p, c, costMap(p)) }
      .toDF("piece", "cnt", "score_s16")
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Pack documents into fixed token-budget training sequences — the
    * "concat docs in a deterministic order, cut every `budget` tokens"
    * step that precedes batch assembly in an LLM pipeline. Doc d goes to
    * sequence `floor(tokens_before_d / budget)` in doc-id order, so a
    * sequence may overrun the budget by at most its last doc (the
    * concat-then-chunk variant that splits the straddling doc is
    * [[chunkDocs]] composed after this).
    *
    * The running token count is a two-level prefix sum, NOT one global
    * window (a single-partition sort would serialize the corpus through
    * one task at 100 TB): per-shard token subtotals (shard = id div
    * `shardSize`) are prefix-summed in a window over the TINY shard-totals
    * table — one row per shard — and broadcast back as per-shard offsets;
    * the per-doc running sum then runs inside each shard partition. The
    * same decomposition as [[SortOps]]' range-partitioned sort: global
    * order from per-partition order + tiny global metadata.
    */
  def packSequences(docs: DataFrame, budget: Long, shardSize: Long = 1000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // materialized, not bare packCounts: the count pipeline tokenizes the
    // whole corpus, and packCounts' two-scan contract would tokenize TWICE
    packCountsMaterialized(
      docs.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens")),
      budget, shardSize, idCol)

  /** [[packSequences]] over caller-supplied per-doc token counts
    * (`idCol`, `n_tokens`) — so packing can run on POST-tokenizer budgets
    * ([[bpeEncode]]'s counts, the number that actually fills a training
    * batch) instead of whitespace counts. Same two-level prefix-sum
    * decomposition.
    *
    * PUBLIC API CONTRACT — two scans of `perDocCounts`: the input frame is
    * evaluated twice (once for the tiny shard-totals branch, once for the
    * final join) and is deliberately NOT persisted here, because a lazy
    * persist on a frame embedded in the returned plan could never be
    * unpersisted and would leak for the session lifetime. Callers whose
    * count pipeline is expensive to recompute should use
    * [[packCountsMaterialized]] (one pipeline evaluation behind a
    * [[graft.Spill]] barrier) or pass a frame with cheap lineage —
    * [[bpeEncode]] returns a literal vocab join precisely so this double
    * scan costs two cheap corpus passes.
    */
  def packCounts(perDocCounts: DataFrame, budget: Long, shardSize: Long = 1000L,
      idCol: String = "doc_id"): DataFrame =
    packAssignments(perDocCounts, budget, shardSize, idCol)
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
      .orderBy(col("seq_id"))

  /** The packer's doc → sequence rule, the one both packers share: a doc
    * whose running token offset is `offset` plus the [[sumBefore]] of
    * `n_tokens` over `w` goes to sequence `before div budget`. Adds
    * `before` and `seq_id`.
    */
  private def packInto(perDoc: DataFrame, offset: Column, w: WindowSpec,
      budget: Long): DataFrame =
    perDoc.withColumn("before", offset + sumBefore(col("n_tokens"), w))
      .withColumn("seq_id", expr(s"before div $budget"))

  /** The packer's per-document assignment stage: keyed by doc id in id
    * order, [[packInto]] over the two-level shard decomposition (shard =
    * id div `shardSize`; shard offsets a broadcast-sized [[sumBefore]]
    * over the shard totals, within-shard offsets a per-shard window).
    * [[packCounts]] aggregates it per sequence and [[forgetBlastRadius]]
    * audits it per takedown, so the audit cannot drift from the packing.
    * Output: (idCol, n_tokens, seq_id).
    *
    * Two scans of `perDocCounts` (shard-totals branch + final join), NOT
    * persisted here — [[packCounts]]' documented contract; expensive
    * count pipelines go through [[packCountsMaterialized]]'s barrier.
    */
  def packAssignments(perDocCounts: DataFrame, budget: Long,
      shardSize: Long = 1000L, idCol: String = "doc_id"): DataFrame = {
    val perDoc = perDocCounts.select(
      col(idCol), expr(s"$idCol div $shardSize").as("shard"), col("n_tokens"))
    val offsets = perDoc.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("offset", sumBefore(col("shard_tokens"), Window.orderBy(col("shard"))))
      .select(col("shard"), col("offset"))
    packInto(perDoc.join(broadcast(offsets), "shard"), col("offset"),
      Window.partitionBy(col("shard")).orderBy(col(idCol)), budget)
      .select(col(idCol), col("n_tokens"), col("seq_id"))
  }

  /** Takedown blast radius over packed training sequences — the
    * compliance query a right-to-be-forgotten request triggers AFTER the
    * packer has materialized context windows: which sequences contain a
    * tombstoned document (and must be regenerated or excluded from
    * further epochs), and what regeneration costs in documents and
    * tokens. [[graft.operators.DedupOps.dedupForget]] repairs the dedup
    * index; this prices the damage downstream of it, riding the SAME
    * assignment stage as [[packCounts]] ([[packAssignments]]).
    *
    * Scale shape: the count pipeline is materialized once behind the
    * [[graft.Spill]] barrier (the [[packSequences]] discipline — the
    * assignment stage's two-scan contract would tokenize twice); the
    * tombstone join is metadata-sized; one per-sequence aggregation.
    * Output: one row per AFFECTED sequence (n_tombstoned > 0):
    * (seq_id, n_docs, n_tombstoned, n_tokens, tokens_lost), ordered.
    */
  def forgetBlastRadius(docs: DataFrame, tombstones: DataFrame, budget: Long,
      shardSize: Long = 1000L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    forgetBlastRadiusCounts(
      docs.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens")),
      tombstones, budget, shardSize, idCol)

  /** [[forgetBlastRadius]] over CALLER-SUPPLIED per-doc token counts
    * (`idCol`, `n_tokens`) — the POST-TOKENIZER form: training batches
    * fill on BPE counts, not whitespace counts ([[packCounts]]' own
    * caller-counts rationale), so the regeneration price of a takedown
    * is only honest in the units the packer actually budgeted with —
    * feed it [[bpeEncode]]'s `n_bpe_tokens` and the audit prices the
    * same context windows the batch assembler filled. The counts frame
    * is materialized ONCE behind the [[graft.Spill]] barrier before
    * [[packAssignments]]'s documented two-scan contract (an expensive
    * count pipeline — a full BPE encode — must not run twice).
    */
  def forgetBlastRadiusCounts(perDocCounts: DataFrame, tombstones: DataFrame,
      budget: Long, shardSize: Long = 1000L,
      idCol: String = "doc_id"): DataFrame = {
    val counts = graft.Spill.materialize(perDocCounts, "graft-blastcounts")
    val tomb = tombstones.select(col(idCol)).distinct()
      .withColumn("tombed", lit(1L))
    packAssignments(counts, budget, shardSize, idCol)
      .join(tomb, Seq(idCol), "left")
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("tombed"), lit(0L))).as("n_tombstoned"),
        sum(col("n_tokens")).as("n_tokens"),
        coalesce(sum(when(col("tombed") === 1L, col("n_tokens"))), lit(0L))
          .as("tokens_lost"))
      .filter(col("n_tombstoned") > 0)
      .orderBy(col("seq_id"))
  }

  /** [[packCounts]] behind an explicit materialization barrier
    * ([[graft.Spill]]): the count frame is written ONCE to session-temp
    * parquet and the packer's two scans read those files — so a caller
    * whose count pipeline is expensive (a corpus tokenize, a full BPE
    * encode) pays ONE pipeline evaluation instead of [[packCounts]]'
    * two-scan contract, with no cache left behind to leak. The
    * intermediate is narrow (id + n_tokens, ~16 bytes/row), so the barrier
    * write is negligible next to the pipeline it halves; at 100 TB this is
    * the standard "materialize the per-doc stats table" step every
    * training-data pipeline runs anyway.
    */
  def packCountsMaterialized(perDocCounts: DataFrame, budget: Long,
      shardSize: Long = 1000L, idCol: String = "doc_id"): DataFrame =
    packCounts(graft.Spill.materialize(perDocCounts, "graft-packcounts"),
      budget, shardSize, idCol)

  /** Per-key unigram surprisal: rows keyed by `keys` (a doc id first),
    * scored by the integer mean ([[keyedMean]]) over the key's tokens of
    * `(N * 10000) div count(tok)` (the [[tfidfTopTerms]] idf trick).
    * Output: `keys`, n_tokens, `meanName`. One corpus-wide token count,
    * broadcast back onto the exploded tokens — the vocabulary is orders
    * of magnitude smaller than the corpus (at 100 TB it would be top-K
    * truncated with a default surprisal for the tail).
    */
  private[graft] def unigramSurprisal(docs: DataFrame, keys: Seq[String], textCol: String,
      meanName: String): DataFrame = {
    val tok = docs.select(keys.map(col) :+ explode(tokens(col(textCol))).as("tok"): _*)
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val n = vocab.agg(sum(col("cnt")).as("n_total"))
    keyedMean(tok.join(broadcast(vocab), "tok").crossJoin(broadcast(n))
      .select(keys.map(col) :+ expr("(n_total * 10000) div cnt").as("s"): _*),
      keys, "s", "n_tokens", meanName)
  }

  /** Unigram-surprisal quality score, the integer-exact stand-in for the
    * KenLM-perplexity filter (docs that are outliers on EITHER tail are
    * suspect: too low = boilerplate, too high = gibberish/OCR noise):
    * keyed by doc id, scored by [[unigramSurprisal]], whose linear
    * surrogate keeps perplexity's ordering without the libm `ln`.
    * Output: (idCol, n_tokens, avg_surprisal_bp).
    */
  def lmSurprisal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    unigramSurprisal(docs, Seq(idCol), textCol, "avg_surprisal_bp").orderBy(col(idCol))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): keyed by
    * (lang, doc id), each language's documents split into head / middle /
    * tail TERCILES by [[lmSurprisal]]'s score ([[unigramSurprisal]] with
    * `lang` carried as an extra key). The cut is by competition rank
    * ([[histRank]]): head iff `3·rank ≤ n_lang`, middle iff
    * `3·rank ≤ 2·n_lang` — deterministic and engine-exact, never a float
    * quantile. The scored table is persisted for the histogram build and
    * released before the lazy result returns. Output: (lang, doc_id,
    * n_tokens, surprisal_bp, bucket); docs with no tokens have no row.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    def scored(df: DataFrame): DataFrame =
      unigramSurprisal(df, Seq(idCol, langCol), textCol, "surprisal_bp")
    val sp = scored(docs).persist()
    val hist = histRank(sp, langCol, "surprisal_bp", desc = false, "rnk", Some("n_lang"))
    sp.unpersist(blocking = false)
    scored(docs).join(broadcast(hist), Seq(langCol, "surprisal_bp"))
      .withColumn("bucket",
        when(col("rnk") * 3 <= col("n_lang"), "head")
          .when(col("rnk") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .select(col(langCol), col(idCol), col("n_tokens"),
        col("surprisal_bp"), col("bucket"))
      .orderBy(col(langCol), col(idCol))
  }

  /** Per-source scorecard — the aggregation a curation pipeline uses to
    * DROP whole sources rather than single documents: [[gopherQuality]]
    * rolled up per source with pass counts and mean gate metrics (integer
    * sums `div` counts — engine-exact). The per-doc gate output is keyed
    * by doc id, the rollup by source — one extra join against the narrow
    * (id, source) projection and one small aggregation.
    */
  def sourceScorecard(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame =
    gopherQuality(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(srcCol)), idCol)
      .groupBy(col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("gopher_pass")).as("n_pass"),
        expr("sum(mean_word_len_bp) div count(1)").as("mean_word_len_bp"),
        expr("sum(rep_2gram_bp) div count(1)").as("mean_rep_2gram_bp"))
      .orderBy(col(srcCol))

  /** Skip-gram co-occurrence lift — the integer-exact PMI surrogate a
    * word-embedding / collocation pipeline computes before training
    * (word2vec SGNS is implicitly factorizing exactly this PMI matrix).
    * Pairs are (token, token-at-distance-d) for d in 1..window, built as
    * zips of offset slices (the [[shingles]] trick — NO indexed lambda,
    * which would re-tokenize per element). lift(x,y) = p(x,y)/(p(x)p(y))
    * with all probabilities over the pair multiset, kept exact as
    * `(c_xy * n_pairs * 10000) div (c_x * c_y)` — no libm, identical in
    * DuckDB. Marginals come from the pair counts themselves (one extra
    * pass over the small co-occurrence table, never over the corpus).
    *
    * Scale: one explode + one hash aggregation over the corpus; the
    * co-occurrence table is O(vocab^2) and the marginals broadcast. At
    * 100 TB the vocab would be top-K truncated first (same note as
    * [[lmSurprisal]]). The `c_xy * n_pairs * 10000` product runs in
    * decimal(38,0) (DuckDB mirror: HUGEINT) — a Long would overflow once
    * `c_xy * n_pairs` passes ~9.2e14, i.e. for frequent pairs already at
    * ~10^8 pairs, and under ANSI mode that's a runtime error, not a wrap.
    * The decimal path is exact up to ~10^17 pairs (product < 10^38), far
    * past a 100 TB corpus's ~10^14; `div` floors to BIGINT on both engines.
    */
  def skipgramLift(docs: DataFrame, window: Int = 2, k: Int = 30,
      minCount: Long = 5, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val pairArrays = (1 to window).map { d =>
      val n = size(toks) - d
      when(size(toks) > d,
        zip_with(slice(toks, lit(1), n), slice(toks, lit(1 + d), n),
          (x, y) => struct(x.as("x"), y.as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))
    }
    val pairs = docs
      .select(explode(concat(pairArrays: _*)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val cXY = pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
    val cX = cXY.groupBy(col("x")).agg(sum(col("c_xy")).as("c_x"))
    val cY = cXY.groupBy(col("y")).agg(sum(col("c_xy")).as("c_y"))
    val nTot = cXY.agg(sum(col("c_xy")).as("n_pairs"))
    cXY.filter(col("c_xy") >= minCount)
      .join(broadcast(cX), "x")
      .join(broadcast(cY), "y")
      .crossJoin(broadcast(nTot))
      .select(col("x"), col("y"), col("c_xy"),
        expr("(cast(c_xy as decimal(38,0)) * n_pairs * 10000) " +
          "div (cast(c_x as decimal(38,0)) * c_y)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Per-document token diversity — the repetition signal quality filters
    * gate on (a doc that is one token repeated 500 times has high
    * [[tokenStats]] counts but zero diversity). All outputs are exact
    * integers: `sum_c2` is the collision count sum(c_i^2) behind the
    * Simpson diversity index 1 - sum_c2/n^2 (emit the numerator, let the
    * consumer divide), `top_count` the modal token's count, `rep_bp` the
    * duplicated-token fraction in basis points.
    *
    * Scale: explode + two hash aggregations, both with map-side partial
    * combine; the (doc, token) shuffle key keeps hot tokens spread across
    * their documents (no single-token hot spot, unlike a global token
    * count).
    *
    * Empty/whitespace-only docs are NOT dropped (consistent with
    * [[tokenStats]]): `explode_outer` keeps them as a null-token group that
    * maps to all-zero counts, and the rep_bp division is guarded.
    */
  def tokenDiversity(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(col("tok")).as("c")) // count(tok): the null group counts 0
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(when(col("c") > 0, lit(1))).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_c2"),
        max(col("c")).as("top_count"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"), col("sum_c2"),
        col("top_count"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("((n_tokens - n_distinct) * 10000) div n_tokens"))
          .as("rep_bp"))
      .orderBy(col(idCol))

  /** Vocabulary coverage curve — how much of the corpus the top-k tokens
    * cover, the Zipf diagnostic a tokenizer-budget decision reads (pick
    * the vocab size where the curve flattens). One corpus token count,
    * then a rank + running-sum window over the VOCAB ONLY — a
    * single-task global window, safe because the vocabulary is orders of
    * magnitude smaller than the corpus (same size argument as the
    * broadcast in [[lmSurprisal]]); the corpus itself is never windowed.
    * Ties rank deterministically by (count desc, token asc) so the curve
    * is engine-exact.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(1, 2, 5, 10, 20, 30),
      textCol: String = "text"): DataFrame = {
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("tok"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = vocab.agg(sum(col("n")).as("total_n"))
    vocab
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(cum))
      .filter(col("k").isin(ks.map(_.toLong): _*))
      .crossJoin(broadcast(total))
      .select(col("k"), col("tok").as("kth_token"), col("cum_n"),
        col("total_n"), expr("(cum_n * 10000) div total_n").as("coverage_bp"))
      .orderBy(col("k"))
  }

  /** Quality scoring: fraction of distinct tokens, stopword ratio, a length
    * saturation term, combined into one score. All ratios are emitted as
    * integer basis points ([[roundBp]]) so the result hashes identically
    * across engines.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = size(filter(toks, t => t.isInCollection(stopwords))).cast("double") / n
    val lenTerm = least(n / lit(100.0), lit(1.0))
    docs
      .filter(size(toks) > 0)
      .select(
        col(idCol),
        size(toks).cast("long").as("n_tokens"),
        roundBp(distinctRatio).as("distinct_bp"),
        roundBp(stopRatio).as("stopword_bp"),
        roundBp(distinctRatio * 0.5 + stopRatio * 0.2 + lenTerm * 0.3).as("quality_bp"))
      .orderBy(col(idCol))
  }

  /** Curriculum packing: [[packCounts]]' packer in QUALITY order — keyed
    * by ([[qualityScore]]'s quality_bp desc, doc id), so early sequences
    * carry the corpus's best text. The running offset decomposes into
    * three [[sumBefore]] levels, none a global sort: tokens of strictly
    * better quality values (over the quality histogram, broadcast), of the
    * same quality in earlier id-shards (over the shard histogram), and of
    * the same (quality, shard) with smaller ids (a window over at most
    * `shardSize` rows); [[packInto]] assigns the sequence.
    *
    * Output per packed sequence: (seq_id, n_docs, n_tokens,
    * max_quality_bp, min_quality_bp) — the quality envelope is the
    * curriculum's monotonicity witness (spec-pinned: max of seq k+1 never
    * exceeds min of seq k by more than a boundary doc).
    */
  def packCurriculum(docs: DataFrame, budget: Long, shardSize: Long = 1000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perDoc = qualityScore(docs, idCol, textCol)
      .select(col(idCol), col("quality_bp"), col("n_tokens"),
        expr(s"$idCol div $shardSize").as("shard"))
    val qOff = perDoc.groupBy(col("quality_bp"))
      .agg(sum(col("n_tokens")).as("q_tokens"))
      .withColumn("q_off",
        sumBefore(col("q_tokens"), Window.orderBy(col("quality_bp").desc)))
      .select(col("quality_bp"), col("q_off"))
    val qsOff = perDoc.groupBy(col("quality_bp"), col("shard"))
      .agg(sum(col("n_tokens")).as("qs_tokens"))
      .withColumn("qs_off", sumBefore(col("qs_tokens"),
        Window.partitionBy(col("quality_bp")).orderBy(col("shard"))))
      .select(col("quality_bp"), col("shard"), col("qs_off"))
    packInto(
      perDoc.join(broadcast(qOff), "quality_bp")
        .join(broadcast(qsOff), Seq("quality_bp", "shard")),
      col("q_off") + col("qs_off"),
      Window.partitionBy(col("quality_bp"), col("shard")).orderBy(col(idCol)), budget)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        max(col("quality_bp")).as("max_quality_bp"),
        min(col("quality_bp")).as("min_quality_bp"))
      .orderBy(col("seq_id"))
  }

  /** DSIR-style importance scores for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its hashed-bigram features are
    * under a TARGET distribution (rows matching `targetPred`, e.g. a
    * trusted language/source) than under the RAW pool — the reweighting
    * signal a curation run samples against when it wants 100 TB of raw
    * crawl to look like a curated corpus.
    *
    * Both "LMs" are add-one-smoothed hashed-bigram bucket models
    * (`buckets` cells each), built in ONE pass over the gram stream (the
    * target counts are a conditional sum beside the raw counts). Per gram,
    * the likelihood ratio p_t(g)/p_r(g) = (c_t+1)(N_r+B) / ((c_r+1)(N_t+B))
    * is taken in INTEGER bp — decimal(38,0) cross-products, floored
    * division, clamped to [1, 10x] — so the per-doc sum is exact and
    * engine-portable where the paper's float log-ratio sum would drift
    * (ln is not correctly-rounded; IEEE sqrt/div are). Clamping bounds any
    * single gram's vote, the same robustness trick as the paper's
    * per-feature truncation; rank order under the clamp is what the
    * selection step consumes. Docs with no bigram (< 2 tokens) score NULL
    * via the left join — distinguishable from a genuinely neutral 10000 bp.
    *
    * Scale shape: the gram explode is the only corpus-volume pass; the
    * count model is `buckets` rows — broadcast onto the gram stream for
    * the scoring join — and the per-doc rollup is one hash shuffle on the
    * doc id. Totals ride along as a 1-row broadcast. Nothing driver-side,
    * nothing pairwise.
    *
    * Output: (doc_id, n_grams, lr_sum_bp, lr_avg_bp), ordered.
    */
  def dsirScores(docs: DataFrame, targetPred: Column, buckets: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val grams = docs
      .select(col(idCol), targetPred.as("is_t"),
        explode(shingles(tokens(col(textCol)), 2)).as("s"))
      .select(col(idCol), col("is_t"),
        pmod(StableHash.hash60(col("s")), lit(buckets.toLong)).as("b"))
    val counts = grams
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
    val totals = counts.agg(
      (sum(col("c_r")) + lit(buckets.toLong)).as("nr_b"),
      (sum(col("c_t")) + lit(buckets.toLong)).as("nt_b"))
    // per-bucket ratio precomputed on the model table (buckets rows), so
    // the corpus-sized scoring join carries one small long per gram
    val ratios = counts
      .crossJoin(broadcast(totals))
      .select(col("b"),
        least(lit(100000L), greatest(lit(1L),
          expr("CAST(((c_t + 1) * CAST(nr_b AS DECIMAL(38,0)) * 10000) div " +
            "((c_r + 1) * CAST(nt_b AS DECIMAL(38,0))) AS BIGINT)")))
          .as("lr_bp"))
    docs.select(col(idCol))
      .join(
        grams.join(broadcast(ratios), Seq("b"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_grams"), sum(col("lr_bp")).as("lr_sum_bp")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_grams"), col("lr_sum_bp"),
        expr("lr_sum_bp div n_grams").as("lr_avg_bp"))
      .orderBy(col(idCol))
  }

  /** DuckDB SQL matching [[dsirScores]] on `documents`; `targetSql` is the
    * boolean target-membership expression (e.g. "lang = 'en'").
    */
  def dsirScoresSql(targetSql: String, buckets: Int = 4096): String = {
    val toksSql =
      "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> length(t) > 0)"
    val sh2 = "CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), " +
      "i -> t[i] || ' ' || t[i+1]) ELSE CAST([] AS VARCHAR[]) END"
    s"WITH d AS (SELECT doc_id, ($targetSql) AS is_t, $toksSql AS t FROM documents), " +
      s"g AS (SELECT doc_id, is_t, ${StableHash.hash60Sql("s")} % $buckets AS b " +
      s"FROM (SELECT doc_id, is_t, unnest($sh2) AS s FROM d)), " +
      "c AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r, " +
      "CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t " +
      "FROM g GROUP BY b), " +
      s"tot AS (SELECT sum(c_r)::HUGEINT + $buckets AS nr_b, " +
      s"sum(c_t)::HUGEINT + $buckets AS nt_b FROM c), " +
      "r AS (SELECT b, least(100000, greatest(1, " +
      "CAST((c_t + 1) * nr_b * 10000 // ((c_r + 1) * nt_b) AS BIGINT))) AS lr_bp " +
      "FROM c, tot), " +
      "per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      "CAST(sum(lr_bp) AS BIGINT) AS lr_sum_bp " +
      "FROM g JOIN r USING (b) GROUP BY doc_id) " +
      "SELECT d2.doc_id, n_grams, lr_sum_bp, lr_sum_bp // n_grams AS lr_avg_bp " +
      "FROM (SELECT DISTINCT doc_id FROM documents) d2 LEFT JOIN per USING (doc_id) " +
      "ORDER BY doc_id"
  }
}
