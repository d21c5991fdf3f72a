package graft

import org.apache.spark.sql.functions._

import graft.functions.StableHash
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("tokens: lowercases, splits on whitespace runs, drops empties") {
    val got = docs((1L, "  Hello   WORLD\tfoo\nbar "))
      .select(TextOps.tokens(col("text"))).as[Seq[String]].head()
    assert(got == Seq("hello", "world", "foo", "bar"))
  }

  test("tokens: empty and whitespace-only text yield an empty array") {
    val got = docs((1L, ""), (2L, "   \t  "))
      .select(TextOps.tokens(col("text"))).as[Seq[String]].collect()
    assert(got.forall(_.isEmpty))
  }

  test("shingles: sliding word 3-grams; short docs yield empty (sequence(1,0) guard)") {
    val df = docs((1L, "a b c d"), (2L, "a b"), (3L, ""))
    val got = df
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
    assert(got(3L).isEmpty)
  }

  test("tokenFrequency: corpus counts match a JVM-side count") {
    val df = docs((1L, "the cat sat"), (2L, "the cat"), (3L, "THE"))
    val got = TextOps.tokenFrequency(df).as[(String, Long)].collect().toMap
    assert(got == Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L))
  }

  test("tokenStats: counts on a hand-checked doc") {
    val df = docs((7L, "One two, two 3 three!"))
    val r = TextOps.tokenStats(df).head()
    assert(r.getAs[Long]("n_tokens") == 5L)       // one two, two 3 three!
    assert(r.getAs[Long]("n_distinct_tokens") == 5L) // "two," != "two"
    assert(r.getAs[Long]("n_chars_raw") == 21L)
    // [a-z]+ runs: one,two,two,three ; digits: 3 ; symbols: ',' '!' => 7
    assert(r.getAs[Long]("n_bpeish_tokens") == 7L)
  }

  test("fingerprints: identical normalized token streams share fp_md5") {
    val df = docs((1L, "Hello  world"), (2L, "hello world"), (3L, "hello world!"))
    val fps = TextOps.fingerprints(df).as[(Long, String, java.lang.Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("fingerprints: fp_min_shingle is null for docs shorter than 3 tokens") {
    val df = docs((1L, "just two"), (2L, "one two three four"))
    val got = TextOps.fingerprints(df).as[(Long, String, java.lang.Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got(1L) == null)
    assert(got(2L) != null)
  }

  test("StableHash.hash60 is deterministic, non-negative, 60-bit") {
    val vals = Seq("a", "b", "a longer string", "").toDF("s")
      .select(StableHash.hash60(col("s"))).as[Long].collect()
    val again = Seq("a", "b", "a longer string", "").toDF("s")
      .select(StableHash.hash60(col("s"))).as[Long].collect()
    assert(vals.sameElements(again))
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
    assert(vals.distinct.length == 4)
  }

  test("StableHash.seeded gives independent families") {
    val h = (0 until 4).map(i =>
      Seq("token").toDF("s").select(StableHash.seeded(col("s"), i)).as[Long].head())
    assert(h.distinct.length == 4)
  }

  test("winnow: docs sharing a long run share a fingerprint; short docs get one") {
    val shared = "one two three four five six seven eight nine"
    val df = docs(
      (1L, s"intro words here $shared"),
      (2L, s"$shared totally different tail"),
      (3L, "tiny doc"),               // < 3 tokens: no shingles -> no rows
      (4L, "just four little words")) // 2 shingles < w: single min fingerprint
    val got = TextOps.winnow(df).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // winnowing guarantee: a shared run of >= w+k-1 = 6 tokens yields a
    // shared fingerprint
    assert(got(1L).intersect(got(2L)).nonEmpty)
    assert(!got.contains(3L))
    assert(got(4L).size == 1)
  }

  test("chunkDocs: overlapping windows, short last chunk, one chunk for short docs") {
    // 7 tokens, width 3, stride 2 -> chunks at 0,2,4 cover [1-3],[3-5],[5-7]
    val df = docs((1L, "a b c d e f g"), (2L, "x y"), (3L, ""))
    val got = TextOps.chunkDocs(df, width = 3, stride = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(got((1L, 0L)) == 3L && got((1L, 1L)) == 3L && got((1L, 2L)) == 3L)
    assert(got((2L, 0L)) == 2L) // short doc: single chunk, no padding
  }

  test("chunkDocs: consecutive chunks overlap by width - stride tokens") {
    val df = docs((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
    val hashes = TextOps.chunkDocs(df, width = 4, stride = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._2)
    // 10 tokens, width 4, stride 2 -> ceil((10-4)/2)+1 = 4 chunks
    assert(hashes.length == 4)
    assert(hashes.map(_._3).toSeq == Seq(4L, 4L, 4L, 4L))
    assert(hashes.map(_._4).distinct.length == 4) // all chunks distinct content
  }

  test("tfidfTopTerms: rare terms outrank common ones; ties break by token") {
    // "zebra" appears in 1 of 3 docs, "the" in all 3: idf 30000 vs 10000
    val df = docs(
      (1L, "the zebra the"),   // tf(the)=2*10000=20000 < tf(zebra)=1*30000
      (2L, "the cat"),
      (3L, "the dog"))
    val got = TextOps.tfidfTopTerms(df, k = 2)
      .as[(Long, Int, String, Long)].collect()
      .filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).toSeq
    assert(got == Seq((1, "zebra", 30000L), (2, "the", 20000L)))
  }

  test("langId: marker-heavy docs are classified, no-marker docs unknown") {
    val df = docs(
      (1L, "the cat and the dog is in a house"),
      (2L, "der Hund und die Katze ist nicht ein"),
      (3L, "el perro es una casa de los gatos que"),
      (4L, "le chat est dans les maisons des et une"),
      (5L, "zzz qqq xxx"))
    val got = TextOps.langId(df).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr", 5L -> "unknown"))
  }

  test("piiRedact: finds and masks emails, phones, and long digit runs") {
    val df = docs(
      (1L, "mail me at a.user+tag@foo-bar.org or b@x.io thanks"),
      (2L, "call 555-123-4567 or 555-9876-0001, acct 123456789012"),
      (3L, "clean text, short number 1234"))
    val got = TextOps.piiRedact(df)
      .select("doc_id", "n_emails", "n_phones", "n_ids")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L, 0L), (2L, 0L, 2L, 1L), (3L, 0L, 0L, 0L)))
    // masked text is deterministic: same input, same fingerprint
    val fp1 = TextOps.piiRedact(df).select("fp_md5").as[String].collect().toSeq
    val fp2 = TextOps.piiRedact(df).select("fp_md5").as[String].collect().toSeq
    assert(fp1 == fp2)
    // doc 3 has no PII, so its fingerprint is md5 of the unchanged text
    val clean = df.filter(col("doc_id") === 3)
      .select(md5(col("text"))).as[String].head()
    assert(fp1(2) == clean)
  }

  test("piiRedact: masked text contains no original PII (round-trip re-scan)") {
    val planted = TextOps.plantedPii(docs((0L, "hello world"), (1L, "plain")))
    // re-redact the redacted text: zero matches left
    val redacted = planted.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"),
        TextOps.IdRe, "<ID>").as("text"))
    val rescan = TextOps.piiRedact(redacted)
      .select("n_emails", "n_phones", "n_ids")
      .as[(Long, Long, Long)].collect()
    assert(rescan.forall(r => r._1 == 0 && r._2 == 0 && r._3 == 0))
    // and the planted doc 0 did contain all three kinds before masking
    val before = TextOps.piiRedact(planted)
      .filter(col("doc_id") === 0)
      .select("n_emails", "n_phones", "n_ids")
      .as[(Long, Long, Long)].head()
    assert(before == ((1L, 1L, 1L)))
  }

  test("langId: ties resolve in langMarkers declaration order") {
    // "de" appears in both es and fr marker lists? no — craft a tie between
    // en ("the") and de ("der"): 1 hit each -> first declared (de) wins.
    val got = TextOps.langId(docs((1L, "der the"))).as[(Long, String)].head()._2
    assert(got == "de")
  }

  test("qualityScore: hand-computed basis points") {
    // tokens: the the cat -> n=3, distinct=2, stopwords(the)=2, lenTerm=0.03
    val r = TextOps.qualityScore(docs((1L, "the the cat"))).head()
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("distinct_bp") == 6667L)
    assert(r.getAs[Long]("stopword_bp") == 6667L)
    // 2/3*0.5 + 2/3*0.2 + 0.03*0.3 = 0.4756666... -> 4757
    assert(r.getAs[Long]("quality_bp") == 4757L)
  }

  test("qualityScore: empty docs are filtered out") {
    assert(TextOps.qualityScore(docs((1L, " "), (2L, "a b"))).count() == 1L)
  }

  test("gopherQuality: repetition rules catch a boilerplate doc") {
    val clean = "the quick brown fox jumps over the lazy dog and then rests"
    val loop = "buy now " * 20 // one 2-gram repeated 20x
    val got = TextOps.gopherQuality(docs((1L, clean), (2L, loop)))
      .select("doc_id", "rep_2gram_bp", "top_2gram_char_bp", "gopher_pass")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val (cleanRow, loopRow) = (got(0), got(1))
    // clean doc: no repeated 2-grams, passes every gate
    assert(cleanRow._2 == 0L && cleanRow._4 == 1L)
    // boilerplate: 39 2-grams, only 2 distinct -> rep ~ 0.949; the top
    // 2-gram ("buy now" or "now buy", 20 or 19 hits x 7 chars) covers most
    // of the 160 chars; both repetition gates fail
    assert(loopRow._2 > 9000L && loopRow._3 > 8000L && loopRow._4 == 0L)
  }

  test("gopherQuality: hand-computed word-shape ratios") {
    // tokens: "ab cde-f 12" -> mean len (2+5+2)/3 = 3.0, alpha 2/3,
    // symbol (cde-f) 1/3, no stopwords
    val r = TextOps.gopherQuality(docs((1L, "ab cde-f 12"))).head()
    assert(r.getAs[Long]("mean_word_len_bp") == 30000L)
    assert(r.getAs[Long]("alpha_word_bp") == 6667L)
    assert(r.getAs[Long]("symbol_word_bp") == 3333L)
    assert(r.getAs[Long]("n_stop") == 0L)
    assert(r.getAs[Long]("gopher_pass") == 0L)
  }

  test("bm25: docs dense in query terms outrank long diluted docs") {
    val d = docs(
      (1L, "sort merge join sort merge join"), // dense in all three terms
      (2L, "sort " + ("filler " * 50)), // one term, long doc
      (3L, "nothing relevant here"))
    val got = TextOps.bm25(d, Seq("sort", "merge", "join"), k = 10)
      .select("rank", "doc_id").as[(Int, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 2L)) // doc 3 scores nothing
  }

  test("bm25: tf saturates (k1 bound) instead of growing linearly") {
    val d = docs(
      (1L, ("sort " * 50).trim),
      (2L, ("sort " * 5).trim + " " + ("x " * 45).trim))
    val scores = TextOps.bm25(d, Seq("sort"), k = 10)
      .select("doc_id", "score_bp").as[(Long, Long)].collect().toMap
    // 10x the tf buys well under 2x the score
    assert(scores(1L) < scores(2L) * 2)
  }

  test("phraseSearch: adjacent-token matches only, 1-based first_pos") {
    val d = docs(
      (1L, "x a b a b y"), // hits at pos 2 and 4
      (2L, "a c b"),       // terms present but never adjacent
      (3L, "a b"),         // hit at pos 1
      (4L, "b a"))         // reversed order is not the phrase
    val got = TextOps.phraseSearch(d, Seq("a", "b"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("phraseSearch: overlapping self-phrase occurrences all count") {
    val got = TextOps.phraseSearch(docs((1L, "a a a")), Seq("a", "a"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  test("phraseSearch: three-word phrase folds through two position joins") {
    val d = docs((1L, "z a b c a b"), (2L, "a b x c"))
    val got = TextOps.phraseSearch(d, Seq("a", "b", "c"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 2L)))
  }

  test("lmSurprisal: rare-token docs score higher, integer-exact means") {
    // counts: a=2, b=2, c=1, N=5; s(a)=s(b)=25000, s(c)=50000
    val got = TextOps.lmSurprisal(docs((1L, "a a b"), (2L, "b c")))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 25000L), (2L, 2L, 37500L)))
  }

  test("sourceScorecard: a boilerplate source fails the gate wholesale") {
    val clean = "the quick brown fox jumps over the lazy dog and then rests"
    val d = Seq(
      (1L, clean, "good"), (2L, clean + " again today", "good"),
      (3L, "spam spam spam spam spam spam", "bad"),
      (4L, ("buy now " * 10).trim, "bad"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceScorecard(d)
      .select("source", "n_docs", "n_pass")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("bad", 2L, 0L), ("good", 2L, 2L)))
  }

  test("bpePairCounts: adjacent in-token char pairs, count-then-pair ranked") {
    val d = docs(
      (0L, "aa ab"),   // pairs: aa, ab
      (1L, "ab x"),    // pairs: ab (1-char token x contributes none)
      (2L, "aba"))     // pairs: ab, ba
    val got = TextOps.bpePairCounts(d, k = 3)
      .as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "ab", 3L), (2, "aa", 1L), (3, "ba", 1L)))
  }

  test("bigramFreqOfFreqs: count-of-counts over word bigrams") {
    // bigrams: "a b" x3, "b a" x2, "b c" x1 -> one type each at r=1,2,3
    val d = docs((0L, "a b a b c"), (1L, "a b a"))
    val got = TextOps.bigramFreqOfFreqs(d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("bpeMerges: learns (a,a) then (a,b) then (aa,ab) on 'aaab aaab ab'") {
    // step 1: (a,a) x4 beats (a,b) x3; greedy turns aaab into [aa,a,b]
    // step 2: (a,b) x3 beats (aa,a) x2;  aaab -> [aa,ab], ab -> [ab]
    // step 3: (aa,ab) x2 is all that remains frequent
    val got = TextOps.bpeMerges(docs((0L, "aaab aaab ab")), nMerges = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("bpeMerges: greedy left-to-right — 'aaaa' becomes [aa,aa], not 3 overlaps") {
    // matches at pos 0,1,2 form one run; parity keeps 0 and 2 only
    val got = TextOps.bpeMerges(docs((0L, "aaaa")), nMerges = 2)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "a", "aa", 3L),
      (2, "aa", "aa", "aaaa", 1L)))
  }

  test("bpeMerges: degenerate corpora stop gracefully, no crash") {
    // all 1-char words: round 1 has NO adjacent pair -> zero rules
    assert(TextOps.bpeMerges(docs((0L, "a b c a")), nMerges = 3).count() == 0L)
    // vocab fully merged before nMerges rounds: 'ab' learns 1 rule then the
    // corpus is a single symbol per word -> stops with the rules so far
    val got = TextOps.bpeMerges(docs((0L, "ab ab")), nMerges = 5)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "b", "ab", 2L)))
  }

  test("bpeEncode: degenerate corpus (no pairs ever) still encodes") {
    val got = TextOps.bpeEncode(docs((7L, "a b a")), nMerges = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 3L, 3L)))
  }

  test("bigramCondProb: conditionals over true prefix mass, hand-checked") {
    // "a b a b c": bigrams (a,b) x2, (b,a) x1, (b,c) x1; prefix mass
    // a -> 2, b -> 2; so P(b|a)=10000 bp, P(a|b)=P(c|b)=5000 bp
    val got = TextOps.bigramCondProb(docs((1L, "a b a b c")))
      .as[(Int, String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "b", 2L, 2L, 10000L),
      (2, "b", "a", 1L, 2L, 5000L),
      (3, "b", "c", 1L, 2L, 5000L)))
  }

  test("bpeEncode: per-doc counts under the trained segmentation") {
    // corpus: 'abab' x3 (2 in doc 1, 1 in doc 2), 'cd' x1.
    // round 1 winner (a,b) x6 -> abab = [ab,ab]; round 2 winner (ab,ab) x3
    // -> abab = [abab]; cd stays [c,d].
    val d = docs((1L, "abab abab cd"), (2L, "abab"))
    val got = TextOps.bpeEncode(d, nMerges = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 4L), (2L, 1L, 1L)))
  }

  test("packSequences: budget binning with overflow by at most the last doc") {
    val d = docs(
      (0L, "a b c"), // 3 tokens, before=0  -> seq 0
      (1L, "d e f g"), // before=3 -> seq 0 (overflows budget 5 by 2)
      (2L, "h"), // before=7 -> seq 1
      (3L, ("w " * 12).trim), // before=8 -> seq 1 (12 tokens, overflow)
      (4L, "z")) // before=20 -> seq 4 (big doc skipped bins 2-3)
    val got = TextOps.packSequences(d, budget = 5, shardSize = 2)
      .select("seq_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 7L, 0L, 1L),
      (1L, 2L, 13L, 2L, 3L),
      (4L, 1L, 1L, 4L, 4L)))
  }

  test("forgetBlastRadius: only affected sequences emit; token accounting exact") {
    // budget 5, one shard: offsets 0,3,5,6,10,11 -> seqs 0,0,1,1,2,2;
    // tombstoning doc 3 must flag seq 1 ONLY, losing exactly its 4 tokens
    val d = docs(
      (0L, "a b c"), (1L, "d e"), (2L, "f"),
      (3L, "g h i j"), (4L, "k"), (5L, "l m"))
    val got = TextOps.forgetBlastRadius(d, Seq(3L).toDF("doc_id"), budget = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, 5L, 4L)), s"blast radius wrong: $got")
  }

  test("forgetBlastRadiusCounts: caller counts reproduce the tokenize path; BPE units re-price the same takedown") {
    // the whitespace path IS the counts path fed whitespace counts
    val d = docs(
      (0L, "a b c"), (1L, "d e"), (2L, "f"),
      (3L, "g h i j"), (4L, "k"), (5L, "l m"))
    val viaDocs = TextOps.forgetBlastRadius(d, Seq(3L).toDF("doc_id"), budget = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val wsCounts = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val viaCounts = TextOps.forgetBlastRadiusCounts(
      wsCounts, Seq(3L).toDF("doc_id"), budget = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(viaDocs == viaCounts, s"counts path diverged: $viaCounts vs $viaDocs")
    // post-tokenizer units: doubling every count halves what fits per
    // window — same docs, different sequence geometry, losses re-priced
    // in the doubled units (8 tokens lost for doc 3, not 4)
    val bpeish = wsCounts.select(col("doc_id"), (col("n_tokens") * 2).as("n_tokens"))
    val rePriced = TextOps.forgetBlastRadiusCounts(
      bpeish, Seq(3L).toDF("doc_id"), budget = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rePriced == Seq((1L, 2L, 1L, 10L, 8L)), s"re-priced blast wrong: $rePriced")
  }

  test("packSequences: sharded prefix sum equals the single-window form") {
    val d = sf("documents")
    def run(shard: Long) =
      TextOps.packSequences(d, budget = 256, shardSize = shard)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // tiny shards vs one giant shard: identical sequences
    assert(run(7L) == run(1000000L))
  }

  test("packCountsMaterialized: identical to packCounts, pipeline runs ONCE") {
    val acc = spark.sparkContext.longAccumulator("count-pipeline-evals")
    val base = (0L until 24L).map(i => (i, i % 7 + 1)).toDF("doc_id", "n_tokens")
    // instrument the count pipeline: one accumulator bump per partition per
    // evaluation — packCounts' two-scan contract doubles it, the barrier
    // must not
    val counted = base.as[(Long, Long)]
      .mapPartitions { it => acc.add(1); it }.toDF("doc_id", "n_tokens")
    val direct = TextOps.packCounts(base, budget = 10, shardSize = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val viaBarrier = TextOps.packCountsMaterialized(counted, budget = 10, shardSize = 4)
    val evalsAtBuild = acc.value
    assert(evalsAtBuild > 0, "barrier write should have evaluated the pipeline")
    val got = viaBarrier.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == direct)
    // both packer scans read the spill, not the pipeline
    viaBarrier.write.format("noop").mode("overwrite").save()
    assert(acc.value == evalsAtBuild,
      s"pipeline re-evaluated: $evalsAtBuild evals at build, ${acc.value} after actions")
  }

  test("tokenDiversity: hand-checked counts; empty docs keep all-zero rows") {
    val got = TextOps.tokenDiversity(docs(
      (1L, "a a b"), // c = {a:2, b:1}
      (2L, "   "), // whitespace-only -> zeros, not dropped
      (3L, "x x x x"))) // one token repeated
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 5L, 2L, 3333L), // sum_c2 = 4+1; rep = 1*10000 div 3
      (2L, 0L, 0L, 0L, 0L, 0L),
      (3L, 4L, 1L, 16L, 4L, 7500L)))
  }

  test("vocabCoverage: rank, running sum, and bp cuts on a tiny corpus") {
    // counts: b:3, a:2, c:1 -> total 6; ranks by (n desc, tok)
    val got = TextOps.vocabCoverage(docs((1L, "b a b c"), (2L, "b a")), ks = Seq(1, 2))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "b", 3L, 6L, 5000L),
      (2L, "a", 5L, 6L, 8333L)))
  }

  test("skipgramLift: lift matches the hand-computed pair statistics") {
    // window=1 pairs over "a b a b": (a,b) x2, (b,a) x1; n_pairs=3
    // lift(a,b) = (2*3*10000) div (2*2) = 15000
    // lift(b,a) = (1*3*10000) div (1*1) = 30000
    val got = TextOps.skipgramLift(docs((1L, "a b a b")), window = 1, minCount = 1)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("b", "a", 1L, 30000L), ("a", "b", 2L, 15000L)))
  }

  test("bigramSurprisal: hand-checked transition scores; short docs drop") {
    // corpus bigrams: "a b" x2, "b a" x1, "a c" x1; prefix mass a -> 3, b -> 1
    // s("a b") = (3*10000) div 2 = 15000; s("b a") = 10000; s("a c") = 30000
    val got = TextOps.bigramSurprisal(docs(
      (1L, "a b a c"), // mean of (15000, 10000, 30000) = 55000 div 3
      (2L, "a b"),
      (3L, "x"))) // single token: no bigrams, no row
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 18333L), (2L, 1L, 15000L)))
  }

  test("skipgramLift: decimal path survives counts a Long product would overflow") {
    // c_xy * n_pairs * 10000 with c_xy = n_pairs = 2^31 overflows Long by
    // ~2^20; the decimal(38,0) arithmetic must still be exact. Exercised
    // at the expression level (a corpus that large can't live in a spec).
    val big = (1L << 31).toString
    val r = spark.sql(
      s"SELECT (cast($big as decimal(38,0)) * $big * 10000) " +
        s"div (cast($big as decimal(38,0)) * 1) AS lift_bp").head()
    assert(r.getLong(0) == (1L << 31) * 10000L)
  }

  test("dsirScores: target-like grams out-score raw-only grams; short docs NULL") {
    // target slice (is_t) is saturated with "good data" bigrams; doc 10
    // repeats them, doc 11 uses bigrams seen only in the raw pool, doc 12
    // has one token (no bigram)
    val d = Seq(
      (1L, "good data good data good data", true),
      (2L, "good data makes good models", true),
      (10L, "good data good data", false),
      (11L, "junk spam junk spam junk", false),
      (12L, "single", false))
      .toDF("doc_id", "text", "is_t")
    val got = TextOps.dsirScores(d, col("is_t"), buckets = 64)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(12L).isEmpty)
    assert(got(10L).exists(a => got(11L).exists(_ < a)),
      s"target-like doc must out-score raw-only doc: $got")
    // a clamped ratio is always within [1, 100000]
    assert(got.values.flatten.forall(v => v >= 1L && v <= 100000L))
  }

  test("htmlExtract: strips tags, decodes entities innermost-first, collapses whitespace") {
    val got = TextOps.htmlExtract(docs((7L, "alpha merge beta"))).head()
    val clean = "doc 7 Doc 7 alpha merge beta copy & share <freely>"
    assert(got.getAs[Long]("clean_len") == clean.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.getAs[String]("clean_md5") == hex)
    // html/head/title + body/h1 + p + the inline b + footer = 16 tags
    assert(got.getAs[Long]("n_tags") == 16L)
  }

  test("langConfusion: diagonal recall and off-diagonal shares, hand-checked") {
    val d = Seq(
      (1L, "the cat and the dog", "en"),     // predicted en
      (2L, "to is in a the", "en"),          // predicted en
      (3L, "zzz qqq www", "en"),             // no markers -> unknown
      (4L, "der hund und die katze", "de"))  // predicted de
      .toDF("doc_id", "text", "lang")
    val got = TextOps.langConfusion(d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("en", "en")) == ((2L, 6666L)))
    assert(got(("en", "unknown")) == ((1L, 3333L)))
    assert(got(("de", "de")) == ((1L, 10000L)))
    assert(got.size == 3)
  }

  test("packCurriculum: equals the quality-ordered replay; envelope monotone") {
    val d = docs((1 to 30).map(i =>
      (i.toLong, ((1 to (i % 7 + 2)).map(j => s"w$j") ++ Seq.fill(i % 3)("the")).mkString(" "))): _*)
    val budget = 12L
    val got = TextOps.packCurriculum(d, budget = budget, shardSize = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // direct replay of the declared order: (quality desc, id), running sum
    val scored = TextOps.qualityScore(d)
      .select("doc_id", "n_tokens", "quality_bp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, _, q) => (-q, id) }
    var before = 0L
    val expect = scored.map { case (id, n, q) =>
      val seq = before / budget; before += n; (seq, n, q)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (seq, rows) =>
      (seq, rows.length.toLong, rows.map(_._2).sum, rows.map(_._3).max, rows.map(_._3).min)
    }
    assert(got.toSeq == expect)
    // curriculum monotonicity: a later sequence never holds better text
    got.sliding(2).foreach { case Array(a, b) => assert(b._4 <= a._5) case _ => }
  }

  test("perplexityBuckets: per-lang terciles by competition rank; ties share a bucket") {
    val d = Seq(
      // lang en: 6 docs with strictly increasing rare-token share
      (1L, "c c c c c c", "en"), (2L, "c c c c c r1", "en"),
      (3L, "c c c c r2 r3", "en"), (4L, "c c c r4 r5 r6", "en"),
      (5L, "c c r7 r8 r9 r10", "en"), (6L, "c r11 r12 r13 r14 r15", "en"),
      // lang xx: 3 byte-identical docs -> all share rank 1 -> all head
      (10L, "same same", "xx"), (11L, "same same", "xx"), (12L, "same same", "xx"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.perplexityBuckets(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getString(4)))
    val en = got.filter(_._1 == "en").sortBy(_._3)
    assert(en.map(_._4).toSeq == Seq("head", "head", "middle", "middle", "tail", "tail"))
    // scores really are monotone with the planted rare-token share
    assert(en.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val xx = got.filter(_._1 == "xx")
    assert(xx.length == 3 && xx.forall(_._4 == "head"))
  }

  test("perplexityBuckets scores every doc exactly as lmSurprisal does, across languages") {
    val d = Seq(
      (1L, "the cat sat on the mat", "en"), (2L, "the the the", "en"),
      (3L, "a rare zebra", "en"), (4L, "", "en"),
      (10L, "le chat est sur le tapis", "fr"), (11L, "le le chat", "fr"),
      (12L, "the cat est rare", "fr"))
      .toDF("doc_id", "text", "lang")
    val lm = TextOps.lmSurprisal(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val buckets = TextOps.perplexityBuckets(d).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(lm.size == 6, s"the empty doc has no score: $lm")
    assert(buckets == lm)
  }

  test("kneserNeyScore: hand-computed interpolated KN with D=3/4") {
    // corpus bigrams: "a b":2, "b a":1, "a c":1 -> T=3
    // n1(a)=3, n1(b)=1; N1r(a)=2, N1r(b)=1; N1l(a)=1, N1l(b)=1, N1l(c)=1
    // KN(a b) = ((8-3)*3 + 3*2*1) / (4*3*3) = 21/36 -> 5833 bp
    // KN(b a) = ((4-3)*3 + 3*1*1) / (4*1*3) =  6/12 -> 5000 bp
    // KN(a c) = ((4-3)*3 + 3*2*1) / (4*3*3) =  9/36 -> 2500 bp
    val got = TextOps.kneserNeyScore(docs((0L, "a b a b"), (1L, "a c")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == ((3L, (5833L + 5000L + 5833L) / 3)))
    assert(got(1L) == ((1L, 2500L)))
  }

  test("kneserNeyScore: docs with fewer than 2 tokens produce no row") {
    val got = TextOps.kneserNeyScore(docs((0L, "a b"), (1L, "solo"), (2L, "")))
    assert(got.select("doc_id").as[Long].collect().toSeq == Seq(0L))
  }

  test("qualityFusion: ranks, Borda sum, and percentile on a hand fixture") {
    val d = Seq(
      // source s1: doc 0 dominates every signal; docs 1 and 2 tie on all
      (0L, "alpha beta gamma delta", "s1"),
      (1L, "alpha betaa", "s1"), // 11 chars, 2 tokens — ties doc 2 on all
      (2L, "gamma delta", "s1"), // 11 chars, 2 tokens
      // source s2: a single doc is rank 1 everywhere by definition
      (3L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.qualityFusion(d)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(0L) == ((1L, 1L, 1L, 3L, 10000L)))
    // ties share the competition rank (2), so borda=6 for both, and both
    // sit at percentile (3-1)*10000/3 = 6666
    assert(got(1L) == ((2L, 2L, 2L, 6L, 6666L)))
    assert(got(2L) == ((2L, 2L, 2L, 6L, 6666L)))
    assert(got(3L) == ((1L, 1L, 1L, 3L, 10000L)))
  }

  test("floorDivSql: exact integer floor beyond 2^53 numerators") {
    // (a, b) covering sign combinations and numerators past the 2^53
    // double-exactness cliff where the old single-divide form was off by
    // one (a = k*b - 1 rounds UP to k*b as a double)
    val cases = Seq(
      (7L, 2L), (-7L, 2L), (7L, -2L), (-7L, -2L), (0L, 5L),
      (100000000000000003L, 1000000000L),
      ((1L << 55) - 1, 1024L), (-((1L << 55) - 1), 1024L),
      (123456789012345678L, 997L))
    cases.foreach { case (a, b) =>
      val got = spark.sql(s"SELECT ${TextOps.floorDivSql(a.toString, b.toString)}")
        .collect()(0).getLong(0)
      assert(got == Math.floorDiv(a, b),
        s"floorDivSql($a, $b) = $got, want ${Math.floorDiv(a, b)}")
    }
  }
}
