package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All pure Column expressions (codegen'd, no UDFs) so they
  * run at full scan speed over 100 TB of documents and push down through
  * Catalyst untouched.
  */
object TextStats {

  /** Whitespace-token count (robust to leading/trailing/multiple spaces). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Mean token length in characters. */
  def meanTokenLength(text: Column): Column =
    (length(regexp_replace(text, "\\s+", ""))).cast("double") /
      tokenCount(text).cast("double")

  /** BPE-ish subword count estimate: words + punctuation marks, digits
    * counted separately (a cheap deterministic proxy for tokenizer load). */
  def subwordEstimate(text: Column): Column =
    tokenCount(text) +
      size(filter(split(text, ""), c => c.rlike("[0-9.,;:!?]"))) -
      when(length(text) === 0, 0).otherwise(0)

  /** Punctuation ratio: fraction of non-space chars that are punctuation. */
  def punctRatio(text: Column): Column = {
    val nonSpace = length(regexp_replace(text, "\\s", ""))
    val punct = nonSpace - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))
    when(nonSpace === 0, 0.0).otherwise(punct.cast("double") / nonSpace.cast("double"))
  }

  /** Digit ratio over all characters. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
        length(text).cast("double"))

  /** Uppercase ratio over letters. */
  def upperRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^\\p{L}]", ""))
    val uppers = letters - length(regexp_replace(text, "[^\\p{Ll}\\P{L}]", "")) // heuristic
    when(letters === 0, 0.0).otherwise(uppers.cast("double") / letters.cast("double"))
  }

  private val enStop = Seq("the", "a", "of", "to", "and", "in", "is", "that")

  /** Stopword ratio against a tiny English list — the n-gram-free core of a
    * fastText-style language heuristic. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStop): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
    when(size(toks) === 0, 0.0)
      .otherwise(stops.cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: long enough, low punctuation/digit
    * noise, some stopwords (Gopher/C4-style filters, scaled to a score). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val digitPenalty = lit(1.0) - least(digitRatio(text) * 5.0, lit(1.0))
    // engine-portable 1e-6 grid (not round(): positive-scale round is
    // engine/version-dependent — see queries.Shared.q6 / GateSpec)
    floor((lenScore * 0.4 + punctPenalty * 0.3 + digitPenalty * 0.3)
      * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
  }

  /** Deterministic 64-bit document fingerprint (content-defined identity for
    * exact dedup & provenance): first 16 hex chars of md5 of the
    * whitespace-normalised lowercase text. */
  def fingerprint(text: Column): Column =
    substring(md5(graft.functions.WinnowNormalize.lowerCollapseWs(text)), 1, 16)

  /** 1..m as an array, empty when m < 1 (Spark's sequence(1,0) counts DOWN,
    * so guard before generating). */
  private def indices(m: Column): Column =
    filter(sequence(lit(1), greatest(m, lit(1))), i => i <= m)

  /** Bind `bound` ONCE as a higher-order-function lambda variable and build
    * `body` over it. Expressions referenced inside a HOF lambda are
    * re-evaluated PER ELEMENT (HOFs run interpreted, outside whole-stage
    * codegen's subexpression elimination), so inlining a regex split into a
    * per-shingle lambda runs it once per shingle per offset — measured 10 s
    * per evaluation over 5 000 documents at sf0.1, ~30× the cost of the
    * whole downstream join. The 1-element `transform` wrapper is the
    * standard let-binding: the bound value computes once per ROW and the
    * lambda body sees a cheap variable reference. */
  private def letBind(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Character n-gram shingle array (basis for MinHash). */
  def charShingles(text: Column, n: Int): Column =
    letBind(graft.functions.WinnowNormalize.lowerCollapseWs(text), norm =>
      transform(indices(length(norm) - (n - 1)), i => norm.substr(i, lit(n))))

  /** Word n-grams as an array column (for n-gram Jaccard dedup).
    * n=1 short-circuits to the token array (no per-token slice/concat). */
  /** Whitespace token array (normalised). Materialise this in its OWN
    * projection before building n-grams: expressions referenced inside a
    * higher-order-function lambda are re-evaluated per element, so an
    * inlined regex split runs once per shingle per offset instead of once
    * per row (a >100x slowdown measured on the dedup pipeline). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-gram shingles from a pre-materialised token array column. */
  def ngramsOfTokens(toks: Column, n: Int): Column =
    if (n == 1) toks
    // element_at per offset keeps this O(tokens): a slice-per-position
    // formulation re-copies the token tail for every shingle (O(tokens^2)
    // per document)
    else transform(indices(size(toks) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))

  def wordNgrams(text: Column, n: Int): Column =
    if (n == 1) tokens(text)
    else letBind(tokens(text), tk => ngramsOfTokens(tk, n))

  // ---- winnowing (Schleimer/Wilkerson/Aiken local-minima fingerprints) ----

  private val WinnowB = 257L
  private val WinnowM = 2147483647L // 2^31 - 1 (Mersenne: exact in any i64 SQL)
  private val WinnowP = 1L << 20    // position field width in the selection key

  /** Winnowing text normalisation: lowercase, strip every char outside
    * [a-z0-9 ]. Keeps the k-gram character codes ASCII so the polynomial
    * hash is bit-identical in ANY engine (the oracle replays it in SQL).
    * Native one-pass expression — the regex chain it replaces cost 45 µs
    * per doc and dominated the fingerprint pass; [[winnowNormalizeSql]]
    * keeps the oracle's spelling for the parity pin. */
  def winnowNormalize(text: Column): Column =
    graft.functions.WinnowNormalize.winnowNormalize(text)

  /** The SQL-replayable form of [[winnowNormalize]] (the oracle's exact
    * spelling), retained as the property-test reference. */
  private[graft] def winnowNormalizeSql(text: Column): Column =
    regexp_replace(lower(trim(text)), "[^a-z0-9 ]", "")

  /** Rolling polynomial hash of every char k-gram (1-based start
    * positions) of the normalised text, ARRAY<BIGINT>:
    * h(p) = fold(acc·B + code) mod M with B=257, M=2^31−1 — products stay
    * under 2^39, exact in 64-bit integer arithmetic everywhere. The char
    * CODES are materialised once per row as an int array and the per-gram
    * fold reads them with O(1) `element_at`: per-position `substr` is
    * O(position) on UTF8 strings (a codepoint seek from the front), which
    * made the direct form quadratic per document. Both the normalised
    * text and the codes array are let-bound (HOF lambdas re-evaluate
    * captured expressions per element — PLANS §40). */
  def kgramHashes(text: Column, k: Int): Column = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    letBind(split(winnowNormalize(text), ""), chars =>
      letBind(transform(chars, c => ascii(c)), codes =>
        transform(indices(size(codes) - (k - 1)), p =>
          (0 until k).foldLeft(lit(0L)) { (acc, i) =>
            (acc * WinnowB + element_at(codes, p + i).cast("bigint")) % WinnowM
          })))
  }

  /** Winnowed document fingerprints: slide a `w`-window over the k-gram
    * hash sequence and keep each window's minimal hash, RIGHTMOST on ties
    * — the standard guarantee that any shared substring of length
    * ≥ w+k−1 chars yields a shared fingerprint while sampling ~2/(w+1)
    * of positions. Selection is encoded portably for the oracle: one
    * BIGINT key h·2^20 + (2^20−1−pos) makes a single `min` over the
    * frame pick (min hash, max position); distinct selected keys decode
    * back to (pos, fp). Documents above 2^20 normalised chars fail
    * loudly rather than fold positions into the hash field.
    *
    * Scale: document-local end to end, executed entirely inside the scan
    * stage by [[graft.functions.WinnowExplode]] (hash + deque window-min
    * + per-doc distinct as one generator pass) — ZERO shuffle, where the
    * windowed plan form below sorted every k-gram of the corpus by
    * (doc, pos) first. Returns (idCol, pos, fp). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(w >= 2, s"winnow window must be >= 2, got $w")
    df.select(col(idCol), graft.functions.WinnowExplode
      .winnowExplode(winnowNormalize(col(textCol)), k, w,
        WinnowB, WinnowM, WinnowP)
      .as(Seq("pos", "fp")))
  }

  /** The original plan-form of [[winnowFingerprints]] (explode → window
    * min over doc partitions → distinct): kept as the independent
    * reference implementation the generator is property-pinned against —
    * row-identical output, one corpus-wide (doc,pos) sort slower. */
  private[graft] def winnowFingerprintsWindowed(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, s"winnow window must be >= 2, got $w")
    // native generator (one JVM loop per row) — bit-identical to
    // posexplode(kgramHashes(...)), pinned by CorpusOpsR10Spec
    val hashed = df
      .select(col(idCol), graft.functions.RollingHashExplode
        .rollingHashExplode(winnowNormalize(col(textCol)), k, WinnowB, WinnowM)
        .as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h")) // 1-based gram starts
    val key = when(col("pos") < WinnowP,
        col("h") * WinnowP + (lit(WinnowP) - 1 - col("pos")))
      .otherwise(raise_error(concat(
        lit(s"document exceeds 2^20 normalised chars for winnowing: pos "),
        col("pos"))).cast("long"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    hashed
      .withColumn("selKey", min(key).over(win))
      .withColumn("nw", count(lit(1)).over(win))
      .filter(col("nw") === w) // full windows only
      .select(col(idCol), col("selKey")).distinct()
      .select(col(idCol),
        (lit(WinnowP - 1) - pmod(col("selKey"), lit(WinnowP))).cast("int").as("pos"),
        // selKey < M·2^20 < 2^51: double division by a power of two is
        // exact, truncating cast recovers the hash field
        (col("selKey") / lit(WinnowP)).cast("bigint").as("fp"))
  }

  /** Per-document TF-IDF over whitespace tokens, smoothed sklearn-style:
    * idf = ln((N+1)/(df+1)) + 1. Returns (id, term, tf, tfidf).
    *
    * Plan: two hash-aggs — (doc, term) counts then term document
    * frequencies — and a shuffle join keyed on term (the vocabulary can be
    * billions of terms at corpus scale, so it is NOT broadcast; a df-cut
    * upstream bounds the join for Zipfian tails). `nDocs` is passed in so
    * the caller amortises the corpus count across calls. */
  def tfidf(df: DataFrame, idCol: String, textCol: String, nDocs: Long): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    tf.join(dft, "term")
      .withColumn("tfidf",
        col("tf") * (log((lit(nDocs) + 1.0) / (col("df_t") + 1.0)) + 1.0))
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
  }

  /** Gopher/MassiveText within-document repetition signals: the duplicate
    * n-gram fraction (1 − distinct/total) and the mass fraction of the
    * single most frequent n-gram — the standard boilerplate/spam filters.
    * One explode + two stacked per-doc hash-aggs; fractions are ratios of
    * exact integers, so external engines reproduce them bit-for-bit. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(ngramsOfTokens(col("_toks"), n)).as("g"))
    grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_ngrams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("_top"))
      .select(col(idCol), col("n_ngrams"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
          .as("dup_ngram_frac"),
        (col("_top").cast("double") / col("n_ngrams")).as("top_ngram_frac"))
  }

  /** Language-model quality signal, CCNet-style: a char-trigram LM is fit
    * on the corpus itself (trigram relative frequencies), and each
    * document scores its mean negative log-likelihood under it — low NLL =
    * looks like the corpus, high NLL = boilerplate/garbage outlier. The
    * per-trigram log-probs are micro-quantized (×1e6 integers) so the
    * per-doc mean is summation-order-free — exactly reproducible by an
    * external engine.
    *
    * Plan: trigram explode → one corpus-wide hash-agg (the LM) → one
    * trigram-keyed shuffle join back (vocab ≤ alphabet³ but NOT broadcast:
    * unicode corpora blow past any broadcast bound) → one per-doc
    * hash-agg. No driver state; the LM "fit" is just an aggregate. */
  def trigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= 3)
    val tri = base
      .withColumn("i", explode(sequence(lit(1), length(col("t")) - 2)))
      .select(col(idCol), expr("substring(t, i, 3)").as("tg"))
    val lm = tri.groupBy("tg").agg(count(lit(1)).as("c"))
    val total = lm.agg(sum(col("c")).as("n"))
    tri.join(lm, "tg")
      .crossJoin(broadcast(total)) // one row: the corpus trigram count
      .withColumn("lp", floor(log(col("c").cast("double") / col("n")) * 1e6 + lit(0.5)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("_slp"))
      .select(col(idCol), col("n_trigrams"),
        (-round(col("_slp").cast("double") / col("n_trigrams")) / 1e6).as("mean_nll"))
  }

  // ------- CCNet-style LM-perplexity quality bucketing -------
  //
  // Two equivalent forms of the head/middle/tail split over the per-doc
  // [[trigramNll]] signal. The reference CCNet pipeline sorts each
  // language's corpus by LM perplexity and cuts it into thirds; a
  // per-language global sort (ntile) is oracle-exact but becomes THE
  // bottleneck at corpus scale, so the scale path separates the two
  // concerns: a tiny cutoff table (two boundary order statistics per
  // language — computable exactly below, or from a sample/sketch at
  // 100 TB) and a broadcast-join assignment that never sorts.
  // PropertySpec pins the two forms row-identical, ties included.

  /** Exact per-language cutoffs: the (mean_nll, id) pairs closing
    * ntile(3)'s first and second buckets (sizes n/3 + extras on the
    * leading buckets, ntile semantics). Output is O(#languages) rows —
    * broadcastable however large the corpus. The tie-break id makes the
    * cutoff a total-order point, so ties in mean_nll split exactly like
    * the window form. */
  def ccnetCutoffs(nll: DataFrame, idCol: String = "doc_id",
                   langCol: String = "lang",
                   nllCol: String = "mean_nll"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(langCol)).orderBy(col(nllCol), col(idCol))
    val wAll = Window.partitionBy(col(langCol))
    nll
      .withColumn("_rk", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_r1", floor(col("_n") / 3) +
        when(col("_n") % 3 >= 1, 1L).otherwise(0L))
      .withColumn("_r2", col("_r1") + floor(col("_n") / 3) +
        when(col("_n") % 3 >= 2, 1L).otherwise(0L))
      .filter(col("_rk") === col("_r1") || col("_rk") === col("_r2"))
      .groupBy(col(langCol))
      .agg(
        max(when(col("_rk") === col("_r1"), col(nllCol))).as("c1_nll"),
        max(when(col("_rk") === col("_r1"), col(idCol))).as("c1_id"),
        max(when(col("_rk") === col("_r2"), col(nllCol))).as("c2_nll"),
        max(when(col("_rk") === col("_r2"), col(idCol))).as("c2_id"))
  }

  /** Scale-path assignment: bucket each row against the broadcast cutoff
    * table by lexicographic (mean_nll, id) comparison — a narrow
    * shuffle-free projection off the scan, no per-language sort. Rows of
    * a language absent from the cutoff table keep bucket null (surface
    * the gap rather than guessing). */
  def ccnetBuckets(nll: DataFrame, cutoffs: DataFrame,
                   idCol: String = "doc_id", langCol: String = "lang",
                   nllCol: String = "mean_nll"): DataFrame = {
    def le(nl: Column, id: Column, cn: Column, ci: Column): Column =
      nl < cn || (nl === cn && id <= ci)
    nll.join(broadcast(cutoffs), Seq(langCol), "left")
      .withColumn("bucket",
        when(le(col(nllCol), col(idCol), col("c1_nll"), col("c1_id")),
          lit("head"))
        .when(le(col(nllCol), col(idCol), col("c2_nll"), col("c2_id")),
          lit("middle"))
        .when(col("c2_nll").isNotNull, lit("tail")))
      .drop("c1_nll", "c1_id", "c2_nll", "c2_id")
  }

  /** Oracle-exact window form (the sf-scale twin the oracle replays):
    * ntile(3) over (mean_nll, id) per language. */
  def ccnetBucketsNtile(nll: DataFrame, idCol: String = "doc_id",
                        langCol: String = "lang",
                        nllCol: String = "mean_nll"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(langCol)).orderBy(col(nllCol), col(idCol))
    nll.withColumn("_b", ntile(3).over(w))
      .withColumn("bucket",
        when(col("_b") === 1, lit("head"))
          .when(col("_b") === 2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("_b")
  }

  // ------- PII scrubbing (pretraining-pipeline redaction pass) -------
  //
  // Regex patterns chosen to mean the same thing in Java regex (Spark
  // codegen) and RE2 (external engines): no lookaround, no backrefs —
  // the portability constraint that lets the redaction be oracle-checked.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII match counts per document — pure codegen'd Column expressions
    * (`regexp_count`), so the scan stays a narrow projection. The dotted
    * phone form is NOT matched: it is indistinguishable from dotted
    * quads without lookahead, which the portability rule above bans. */
  def piiEmails(text: Column): Column = regexp_count(text, lit(EmailRe))
  def piiPhones(text: Column): Column = regexp_count(text, lit(PhoneRe))
  def piiIps(text: Column): Column = regexp_count(text, lit(Ipv4Re))

  /** Redact PII in place with typed placeholders. Email first: its
    * pattern can span dots and digits that the later numeric patterns
    * would otherwise nibble at; after emails are gone, phones (dashed
    * triples) and IPv4 quads cannot overlap each other. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  // ------- Unicode script profile (language/script routing) ----------
  //
  // Per-document character counts by Unicode SCRIPT property — the
  // signal multilingual pipelines route on before any model-based
  // langid (CJK vs Latin vs Cyrillic decides tokenizer, quality
  // thresholds and dedup shingling). Pure codegen'd `regexp_count`
  // passes over the scan — no shuffle, no UDF. The class names differ
  // by dialect (Java spells scripts `\p{IsLatin}`, RE2 `\p{Latin}`);
  // the COUNTS are engine-exact, which is what the oracle checks.

  /** (key, Java regex class) pairs; keep in sync with [[ScriptsRe2]]. */
  val Scripts: Seq[(String, String)] = Seq(
    "latin" -> "[\\p{IsLatin}]", "cyrillic" -> "[\\p{IsCyrillic}]",
    "han" -> "[\\p{IsHan}]", "arabic" -> "[\\p{IsArabic}]",
    "greek" -> "[\\p{IsGreek}]", "hangul" -> "[\\p{IsHangul}]",
    "hebrew" -> "[\\p{IsHebrew}]", "devanagari" -> "[\\p{IsDevanagari}]")

  /** RE2 spelling of the same classes, for oracle SQL authors. */
  val ScriptsRe2: Seq[(String, String)] = Scripts.map { case (k, _) =>
    k -> s"[\\p{${k.capitalize}}]" }

  /** One column per script count, plus total letters (`\p{L}` — shared
    * syntax), the dominant script (argmax, ties broken by the fixed
    * [[Scripts]] order) and its share of letters.
    *
    * Counts come from ONE native pass
    * ([[graft.functions.ScriptCounts]] — same JVM Unicode tables the
    * Java regex classes bottom out in, so byte-identical to the
    * `regexp_count` formulation that cost 9 re-scans per document,
    * 2.76 → 0.6 s on q_script_profile at sf0.1). The repeated
    * `element_at(a, _)` references collapse to one evaluation under
    * whole-stage codegen's subexpression elimination (deterministic
    * expression, single Project). */
  def scriptProfile(text: Column): Column = {
    val a = graft.functions.ScriptCounts.scriptCounts(text)
    val counts = Scripts.zipWithIndex.map { case ((k, _), i) =>
      k -> element_at(a, i + 1) }
    val letters = element_at(a, 9)
    val top = greatest(counts.map(_._2): _*)
    // fold in declaration order so the FIRST max wins the tie
    val dom = counts.reverse.foldLeft(lit("other"): Column) {
      case (acc, (k, c)) => when(c === top && top > 0, lit(k)).otherwise(acc)
    }
    struct(
      (counts.map { case (k, c) => c.as(s"n_$k") } :+
        letters.as("n_letters") :+
        when(letters === 0, lit("none")).otherwise(dom).as("dominant") :+
        when(letters === 0, lit(0.0)).otherwise(
          floor(top.cast("double") / letters.cast("double") * lit(1e6)
            + lit(0.5)).cast("double") / lit(1e6)).as("dominant_share")): _*)
  }

  // ------- Sentence segmentation (C4/Gopher-class heuristic) ---------
  //
  // Terminal punctuation [.!?]+ followed by whitespace ends a sentence.
  // RE2 has no lookbehind, so instead of the usual `(?<=[.!?])\s+`
  // split, a marker pass rewrites `([.!?])\s+` to the punctuation plus
  // U+0001 and the split is a plain character split — both passes
  // replay in any dialect (the replacement backreference SPELLING
  // differs: Java `$1`, RE2 `\1` — the oracle writes its own). Known
  // failure mode is the abbreviation problem ("Mr. Smith" splits);
  // this is the heuristic the C4 terminal-punctuation filter and
  // Gopher sentence counts use, not a parser.

  private val SentenceMark = "\u0001"

  /** Sentence array (non-empty, trimmed). */
  def sentences(text: Column): Column =
    filter(transform(
      split(regexp_replace(text, "([.!?])\\s+", "$1" + SentenceMark),
        SentenceMark),
      s => trim(s)), s => length(s) > 0)

  /** Exact integer sentence evidence per document: count, total chars
    * across trimmed sentences, longest sentence. */
  def sentenceStats(text: Column): Column = {
    val ss = sentences(text)
    struct(size(ss).cast("long").as("n_sentences"),
      coalesce(aggregate(ss, lit(0L), (acc, s) => acc + length(s)), lit(0L))
        .as("sentence_chars"),
      coalesce(array_max(transform(ss, s => length(s))), lit(0))
        .cast("long").as("max_sentence"))
  }

  // ------- Boilerplate removal (jusText-style block classification) --
  //
  // Main-content extraction from raw HTML — the web-pipeline step
  // between HTML fetch and quality scoring (jusText, Pomikálek 2011;
  // trafilatura's fallback path): split the page into BLOCKS at
  // block-level tags, score each block by length, link density and
  // stopword density, keep the content-shaped ones. The heavy
  // trafilatura DOM walk is out of scope; this is the density
  // classifier those tools bottom out in, re-expressed as pure
  // codegen'd Column work (split + regexp passes, no UDF, no shuffle
  // until the caller aggregates).
  //
  // Engine-exactness: every classification rule is INTEGER arithmetic
  // over character/token counts (`100·anchor > pct·chars`, never a
  // float ratio), so an external engine replaying the same splits and
  // regexes reproduces the class of every block bit-for-bit.

  /** Block-level tag boundary (open or close, attrs included) — the
    * split points. Inline tags (<a>, <b>, <span>, …) stay inside
    * blocks and are stripped during text extraction. */
  val BlockTagRe: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "blockquote|pre|section|article|main|header|footer|nav|aside|" +
      "figure|figcaption|form|fieldset|hr|br)[^>]*>"

  private val AnchorRe = "(?is)<a\\b[^>]*>(.*?)</a>"
  private val TagRe = "<[^>]*>"

  /** Collapse an HTML fragment to its visible text (tags → space,
    * whitespace collapsed, trimmed). Entity decoding is HtmlText's job
    * — block scoring only needs counts, and both engines agree on the
    * raw form. */
  private def blockText(html: Column): Column =
    trim(regexp_replace(regexp_replace(html, TagRe, " "), "\\s+", " "))

  /** One row per (document, block): exact integer evidence —
    * `n_chars` (visible text), `anchor_chars` (visible text inside
    * <a>…</a>), `n_toks`/`n_stops` (whitespace tokens / stopword hits)
    * — plus the class. Rules, in order (all integer comparisons):
    *
    *   boilerplate  if 100·anchor_chars > linkDensityPct·n_chars (and
    *                anchor_chars > 0) — link-farm blocks, however long
    *   short        if n_chars < minChars
    *   good         if n_chars ≥ goodChars and
    *                stopDen·n_stops ≥ stopNum·n_toks
    *   boilerplate  otherwise
    *
    * Defaults follow jusText's published thresholds (link density 0.2,
    * stopword density 0.30, length 80); corpora with synthetic or
    * stopword-light text should lower stopNum/stopDen (the
    * q_boilerplate query uses 1/50). */
  def boilerplateBlocks(df: DataFrame, idCol: String, htmlCol: String,
                        minChars: Int = 25, goodChars: Int = 80,
                        linkDensityPct: Int = 20,
                        stopNum: Int = 3, stopDen: Int = 10,
                        stopwords: Seq[String] = enStop): DataFrame = {
    val blocks = df.select(col(idCol).as("id"),
        posexplode(split(col(htmlCol), BlockTagRe)).as(Seq("pos", "raw")))
      .select(col("id"), col("pos"), blockText(col("raw")).as("txt"),
        coalesce(aggregate(
          transform(regexp_extract_all(col("raw"), lit(AnchorRe), lit(1)),
            a => length(trim(regexp_replace(
              regexp_replace(a, TagRe, " "), "\\s+", " ")))),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("anchor_chars"))
    val toks = split(lower(col("txt")), "\\s+")
    val withCounts = blocks.select(col("id"), col("pos"), col("txt"),
      length(col("txt")).cast("long").as("n_chars"), col("anchor_chars"),
      when(length(col("txt")) === 0, lit(0L))
        .otherwise(size(toks).cast("long")).as("n_toks"),
      when(length(col("txt")) === 0, lit(0L))
        .otherwise(size(filter(toks,
          t => t.isin(stopwords.map(x => x: Any): _*))).cast("long"))
        .as("n_stops"))
    withCounts.select(col("id"), col("pos"), col("n_chars"),
      col("anchor_chars"), col("n_toks"), col("n_stops"),
      when(col("anchor_chars") > 0 &&
          col("anchor_chars") * 100L > col("n_chars") * linkDensityPct,
          lit("boilerplate"))
        .when(col("n_chars") < minChars, lit("short"))
        .when(col("n_chars") >= goodChars &&
          col("n_stops") * stopDen >= col("n_toks") * stopNum, lit("good"))
        .otherwise(lit("boilerplate")).as("cls"),
      col("txt"))
  }

  /** Reassemble each document's main content from its good blocks (in
    * block order) with per-class counts — the (id, text') frame the
    * rest of the pipeline consumes in place of raw HTML. */
  def mainContent(blocks: DataFrame): DataFrame =
    blocks.groupBy(col("id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("cls") === "good", 1L).otherwise(0L)).as("n_good"),
        sum(when(col("cls") === "boilerplate", 1L).otherwise(0L))
          .as("n_boiler"),
        // collect_list drops the nulls the `when` leaves on non-good
        // blocks; the struct sort restores block order after the
        // unordered aggregation
        array_join(transform(
            array_sort(collect_list(when(col("cls") === "good",
              struct(col("pos"), col("txt"))))),
            s => s.getField("txt")),
          "\n").as("main_text"))

  /** Pointwise-mutual-information bigram collocations — the corpus
    * statistic behind phrase mining and tokenizer-merge candidates:
    * PMI(a,b) = ln(n_ab · N / (n_a · n_b)) over adjacent token pairs,
    * keeping bigrams seen ≥ `minCount` times. One narrow explode per
    * side, one hash aggregation per table; the unigram table joins the
    * bigram table twice on its key (Catalyst broadcasts when the vocab
    * is small; at corpus scale both are key-partitioned hash joins —
    * never a cross product). N is the TOTAL bigram count, carried on a
    * one-row broadcast. */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val toks = df.select(
      when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(col(textCol)), "\\s+")).as("toks"))
    val pairs = toks
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), col("n") - 1).as("a"),
        slice(col("toks"), lit(2), col("n") - 1).as("b"))).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val tot = big.agg(sum(col("n_ab")).as("n_total"))
    // unigram margins over bigram SLOTS (each pair contributes one
    // occurrence to each side) — the convention that makes Σ n_a = Σ n_b
    // = N and the PMI table self-consistent
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_a"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_b"))
    big.filter(col("n_ab") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_ab"),
        // double products on BOTH sides of the ratio (no long mult that
        // could overflow at corpus scale; counts < 2^53 stay exact).
        // ln routes through floor(x·1e6+0.5)/1e6 — the engine-portable
        // quantization (libm ln differs across builds; round(,6) tie
        // behavior differs across engine versions)
        (floor(log(col("n_ab").cast("double") * col("n_total").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("pmi"))
  }

  /** C4-style page-quality heuristics (Raffel et al. 2020, §2.2 — the
    * standard web-corpus cleaning recipe): a line survives when it ends
    * in terminal punctuation AND has ≥ 5 words; a page is kept when its
    * surviving lines carry ≥ 3 sentence-final marks and the raw text has
    * neither "lorem ipsum" nor a '{'. Emits the per-document evidence
    * (line/sentence counts, flags, the cleaned text) plus the keep
    * verdict so downstream policy can override any single rule. Pure
    * Column expressions — the 100 TB plan is a narrow projection. */
  def c4QualityFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") && size(split(trim(l), "\\s+")) >= 5)
    df.select(col(idCol), lines.as("lines"), kept.as("kept"),
        col(textCol).as("text"))
      .select(col(idCol),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept_lines"),
        regexp_count(array_join(col("kept"), "\n"), lit("[.!?]")).as("n_sentences"),
        col("text").contains("{").as("has_brace"),
        lower(col("text")).contains("lorem ipsum").as("has_lorem"),
        array_join(col("kept"), "\n").as("clean_text"))
      .withColumn("keep",
        col("n_sentences") >= 3 && !col("has_brace") && !col("has_lorem"))
  }

  /** Gopher/MassiveText page-quality rules (the repetition-free subset —
    * duplicate-n-gram mass lives in [[repetitionSignals]]): word-count
    * window, mean-word-length window, symbol-to-word ratio (# and ...),
    * bullet-start / ellipsis-end line fractions, fraction of words with
    * an alphabetic character, and a required-stopword count. Emits the
    * per-document evidence plus the composite keep verdict, mirroring
    * [[c4QualityFlags]]. Every signal is a ratio of exact integers (or
    * an integer), so external engines reproduce the verdict bit-for-bit.
    * Pure Column expressions — cleaning 100 TB of pages is a narrow
    * shuffle-free projection off the scan. */
  def gopherQualityFlags(df: DataFrame, idCol: String, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletFrac: Double = 0.9,
                         maxEllipsisFrac: Double = 0.3,
                         minAlphaFrac: Double = 0.8,
                         minStopwords: Int = 2): DataFrame = {
    val reqStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val lines = split(col(textCol), "\n")
    df.select(col(idCol), toks.as("toks"), lines.as("lines"), col(textCol).as("text"))
      .select(col(idCol),
        size(col("toks")).as("n_words"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("n_chars_tok"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).as("n_symbols"),
        size(col("lines")).as("n_lines"),
        size(filter(col("lines"), l =>
          trim(l).rlike("^[-*•‣◦]"))).as("n_bullet_lines"),
        size(filter(col("lines"), l =>
          trim(l).rlike("(\\.\\.\\.|…)$"))).as("n_ellipsis_lines"),
        // "word contains a letter" — explicit codepoint ranges (ASCII +
        // Latin-1 letters + Greek + Cyrillic lowercase; text is
        // lowercased upstream) rather than \p{L}: Java regex and RE2
        // agree on literal ranges but not on Unicode property classes.
        // Scripts outside these ranges (CJK, Arabic...) still score 0 —
        // run gopher AFTER language-ID routing, as the reference
        // pipeline does.
        size(filter(col("toks"), t =>
          t.rlike("[a-zà-öø-ÿα-ωа-я]"))).as("n_alpha_words"),
        size(filter(
          typedLit(reqStop).cast("array<string>"),
          w => array_contains(col("toks"), w))).as("n_req_stop"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("n_chars_tok") >= lit(minMeanLen) * col("n_words") &&
        col("n_chars_tok") <= lit(maxMeanLen) * col("n_words") &&
        col("n_symbols") <= lit(maxSymbolRatio) * col("n_words") &&
        col("n_bullet_lines") <= lit(maxBulletFrac) * col("n_lines") &&
        col("n_ellipsis_lines") <= lit(maxEllipsisFrac) * col("n_lines") &&
        col("n_alpha_words") >= lit(minAlphaFrac) * col("n_words") &&
        col("n_req_stop") >= minStopwords)
  }

  /** Latin accent fold table — the diacritic-bearing letters whose
    * Unicode canonical decomposition carries a base letter, i.e. exactly
    * the set utf8proc-based engines (DuckDB `strip_accents`) fold, so the
    * pure `translate` Column below is engine-parity by construction.
    * Letters WITHOUT a decomposition (đ, ł, ß, œ, æ) are deliberately
    * absent: no engine folds them and neither do we. Lowercase only —
    * [[cleanText]] lowercases first. */
  private val AccentSrc = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñšžčřůļķņēīūģőűāăęńśźż"
  private val AccentDst = "aaaaaaeeeeiiiiooooouuuuyycnszcrulkneiugouaaenszz"

  def foldAccents(text: Column): Column = translate(text, AccentSrc, AccentDst)

  /** Canonical cleaning projection for dedup/matching keys: lowercase →
    * accent fold → strip ASCII control chars → collapse whitespace →
    * trim. Every step is a codegen'd Column (translate + two explicit
    * byte-class regexes — no Unicode property classes, which Java regex
    * and RE2 disagree on), so cleaning 100 TB is a narrow shuffle-free
    * projection the external oracle reproduces bit-for-bit. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(foldAccents(lower(text)), "[\\x00-\\x1f\\x7f]", ""),
      "\\s+", " "))

  /** Interpolated Kneser–Ney word-trigram LM — the step past
    * [[trigramNll]]'s raw MLE: P(w3|w1w2) backs off through continuation
    * counts with absolute discount D = 0.75 (binary-exact):
    *
    *   P3 = max(c3−D,0)/c2 + (D·nf3/c2)·P2
    *   P2 = max(nm−D,0)/nc2 + (D·nf2/nc2)·P1
    *   P1 = npre(w3)/n_bigram_types
    *
    * with every count derived from the ONE corpus trigram table (nm =
    * distinct predecessors of (w2,w3); nc2 = distinct (w1,w3) around w2;
    * nf3/nf2 = distinct continuations; npre = distinct predecessors of
    * w3 over bigram types) — a self-consistent closed-vocabulary
    * convention, documented here because edge n-grams are not padded.
    * All inputs are exact integers and the probability is one fixed
    * parenthesized expression tree, so external engines land identical
    * doubles; per-trigram logs micro-quantize before the per-doc mean
    * (order-free, [[trigramNll]]'s rule).
    *
    * Scale shape: count tables are vocabulary-keyed hash-aggs joined
    * back on their own keys (never broadcast — corpus vocabulary is
    * unbounded); only the one-row bigram-type total broadcasts. */
  def knTrigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = lit(0.75)
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val tri = df.select(col(idCol), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(tk)-3), i -> struct(" +
          "element_at(tk,i+1) as w1, element_at(tk,i+2) as w2, " +
          "element_at(tk,i+3) as w3))")).as("g"))
      .select(col(idCol), col("g.w1"), col("g.w2"), col("g.w3"))
      .localCheckpoint(false) // feeds 5 count tables + the scoring join
    val c3t = tri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
      .localCheckpoint(false) // every other table derives from it
    val c2t = c3t.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("nf3"))
    val nmid = c3t.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("nm"))
    val nctx2 = c3t.groupBy(col("w2")).agg(count(lit(1)).as("nc2"))
    val bg = c3t.select(col("w2"), col("w3")).distinct()
      .localCheckpoint(false)
    val nfol2 = bg.groupBy(col("w2")).agg(count(lit(1)).as("nf2"))
    val npre = bg.groupBy(col("w3")).agg(count(lit(1)).as("npre"))
    val nbg = bg.agg(count(lit(1)).as("nbg"))
    val p1 = col("npre") / col("nbg")
    val p2 = (greatest(col("nm") - d, lit(0.0)) / col("nc2")) +
      (((d * col("nf2")) / col("nc2")) * p1)
    val p3 = (greatest(col("c3") - d, lit(0.0)) / col("c2")) +
      (((d * col("nf3")) / col("c2")) * p2)
    tri.join(c3t, Seq("w1", "w2", "w3"))
      .join(c2t, Seq("w1", "w2"))
      .join(nmid, Seq("w2", "w3"))
      .join(nctx2, Seq("w2"))
      .join(nfol2, Seq("w2"))
      .join(npre, Seq("w3"))
      .crossJoin(broadcast(nbg))
      .withColumn("lp", floor(log(p3) * 1e6 + lit(0.5)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("_slp"))
      .select(col(idCol), col("n_trigrams"),
        (-round(col("_slp").cast("double") / col("n_trigrams")) / 1e6).as("mean_nll"))
  }

  /** Okapi BM25 top-k keyword retrieval. The postings are restricted to
    * the query's terms IMMEDIATELY after the token explode — the only
    * rows that ever shuffle are (doc, query-term) matches, a vanishing
    * fraction of the corpus — and the per-term document frequencies and
    * the corpus (N, Σdl) statistics ride one-row/k-row broadcasts. The
    * final top-k is an `orderBy(...).limit(k)` — Spark plans it as
    * TakeOrderedAndProject (per-partition heaps + driver merge of k·p
    * rows), the shape that survives any corpus size.
    *
    * Engine parity: per-(doc,term) score contributions are quantized to
    * integer micro-units before the per-doc sum (order-independent), and
    * the defaults k1=1.5, b=0.75 are binary-exact so k1+1, 1−b and b fold
    * to exact doubles in both engines. idf = ln(1 + (N−df+0.5)/(df+0.5))
    * (the always-positive Okapi+1 form). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.5, b: Double = 0.75,
               topK: Int = 50): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val docs = df.select(col(idCol).as("doc"), toks.as("toks"))
      .select(col("doc"), col("toks"), size(col("toks")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val posts = docs.select(col("doc"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy(col("doc"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = posts.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    posts.join(broadcast(dft), Seq("term")).crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5))))
      .withColumn("lp", floor(col("idf") * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl") * col("n_docs") / col("sum_dl")))) * 1e6 + lit(0.5)))
      .groupBy(col("doc")).agg(sum(col("lp")).as("score_u"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_u").desc, col("doc"))
      .limit(topK)
      .select(col("doc"), col("n_terms_hit"),
        (col("score_u").cast("double") / 1e6).as("bm25"))
  }

  /** EXACT heavy hitters behind a Misra–Gries prune: every key whose
    * frequency is at least `minFrac` of the non-null rows, with its
    * exact count — without ever shuffling the full distinct-key
    * aggregation. Pass 1 folds the column into one
    * [[graft.functions.MisraGries]] sketch (k counters, map-side
    * partials, mergeable); its survivors are the only possible heavy
    * hitters because MG guarantees every key with true count > n/(k+1)
    * a surviving counter — `minFrac > 1/(k+1)` (required) makes the
    * prune LOSSLESS. Pass 2 re-scans with the ≤ k candidates broadcast,
    * counts exactly, and keeps `cnt >= ceil(minFrac·n)`. Output equals
    * the plain group-by/filter row-for-row (PropertySpec pins it under
    * counter-eviction pressure); the 100 TB cost is two scans plus a
    * k-row shuffle instead of a full-vocabulary hash aggregation. */
  def heavyHitters(df: DataFrame, keyCol: String, minFrac: Double,
                   k: Int = 1024): DataFrame = {
    require(minFrac > 1.0 / (k + 1),
      f"minFrac=$minFrac%.6f must exceed 1/(k+1) = ${1.0 / (k + 1)}%.6f for a lossless prune")
    val keys = df.select(col(keyCol).as("item")).filter(col("item").isNotNull)
    val cands = keys
      .agg(count(lit(1)).as("n"),
        graft.functions.MisraGries.mgSketch(col("item"), k).as("sk"))
      .select(col("n"), explode(col("sk.item")).as("item"))
    keys.join(broadcast(cands), Seq("item"))
      .groupBy(col("item"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= ceil(lit(minFrac) * col("n")))
      .select(col("item"), col("cnt"))
  }

  /** Portable hashed-feature bucket for a token: md5-prefix integer mod
    * `buckets` — identical bits in any engine with md5 (the [[dsirScores]]
    * feature hash; xxhash would be faster but is Spark-private). */
  def dsirBucket(token: Column, buckets: Int): Column =
    pmod(conv(substring(md5(token), 1, 8), 16, 10).cast("long"), lit(buckets))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every document by how target-like its
    * hashed bag-of-tokens is, `log_weight = Σ_tokens log p̂_target(b) −
    * log p̂_raw(b)` over Laplace-smoothed bucket unigram models; sampling
    * ∝ exp(log_weight) then yields a target-matched subcorpus.
    *
    * Output per document: `n_tokens`, exact integer evidence sums
    * (`target_evidence` = Σ cnt_target(bucket), `raw_evidence` =
    * Σ cnt_raw(bucket) — engine-exact, what oracle checks pin) and the
    * float `log_weight` for actual resampling use.
    *
    * Scale shape: the two bucket models are ≤`buckets`-row aggregates
    * (map-side partial combine does the heavy lifting), broadcast onto
    * the token stream; per-document reduce is the only corpus-sized
    * shuffle. `isTarget` marks the in-corpus target sample; a separate
    * target corpus unions in with a flag column first. */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, buckets: Int = 1024): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"), isTarget.as("is_t"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc"), col("is_t"), dsirBucket(col("tok"), buckets).as("b"))
    val model = toks
      .groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"),
        count(lit(1)).as("cnt_r"))
    val totals = model
      .agg(sum(col("cnt_t")).as("tot_t"), sum(col("cnt_r")).as("tot_r"))
    val scored = toks
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt_t")).as("target_evidence"),
        sum(col("cnt_r")).as("raw_evidence"),
        sum(log(col("cnt_t") + lit(1.0))
          - log(col("cnt_r") + lit(1.0))).as("lw_num"))
    // Laplace denominators are per-token constants: fold them once from
    // the totals instead of inside the big sum
    scored.crossJoin(broadcast(totals))
      .select(col("doc"), col("n_tokens"), col("target_evidence"),
        col("raw_evidence"),
        (col("lw_num") - col("n_tokens") *
          (log(col("tot_t") + lit(buckets.toDouble))
            - log(col("tot_r") + lit(buckets.toDouble)))).as("log_weight"))
  }

  /** DEFLATE compression ratio of the UTF-8 text (compressed/raw bytes,
    * level 6) — the repetition/boilerplate proxy RefinedWeb and
    * MassiveText-style filters use: templated or highly repetitive pages
    * compress far below ~0.4 while natural prose sits near 0.6–0.8.
    * Implemented as a Scala UDF (a compressor is imperative by nature;
    * same tier as the media byte decoders): per-row, shuffle-free, one
    * reusable buffer per call. Deterministic for a given JVM zlib — a
    * WITHIN-ENGINE quality signal, not an oracle-comparable value
    * (DuckDB has no deflate), hence lib-green by unit test. Returns null
    * for null/empty input. */
  def compressionRatio: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null || text.isEmpty) None
      else {
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val defl = new java.util.zip.Deflater(6, true)
        try {
          defl.setInput(raw); defl.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!defl.finished()) total += defl.deflate(buf)
          Some(total.toDouble / raw.length)
        } finally defl.end()
      }
    }

  /** All character trigrams of `text` as an array (positions 1..len-2,
    * character-based). Empty array below 3 chars. letBind pins the
    * (possibly expensive) text expression to a lambda variable first —
    * inlining it into the transform would re-evaluate it once per
    * POSITION (the O(len²) trap documented at [[tokens]]; measured 8.3 s
    * → 1.1 s on q_langid_trigram at sf0.1). */
  def charTrigrams(text: Column): Column =
    letBind(text, t =>
      filter(
        transform(sequence(lit(1), greatest(length(t) - 2, lit(0))),
          i => org.apache.spark.sql.graft.ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.Substring(
              org.apache.spark.sql.graft.ColumnBridge.expression(t),
              org.apache.spark.sql.graft.ColumnBridge.expression(i),
              org.apache.spark.sql.catalyst.expressions.Literal(3)))),
        x => length(x) === 3))

  /** Cavnar–Trenkle-style language-ID, step 1: per-language profiles =
    * the top-`k` character trigrams of the labelled corpus by count
    * (ties break by trigram for determinism). Output
    * (lang, tri, rk) — at most `k · |langs|` rows: broadcast scale. */
  def langIdProfiles(docs: DataFrame, langCol: String, textCol: String,
                     k: Int = 300): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    docs.select(col(langCol).as("lang"),
        graft.functions.ShingleExplode
          .shingleExplode(lower(trim(col(textCol))), 3).as("tri"))
      .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("tri"), col("rk"))
  }

  /** Step 2: classify each document by profile overlap — the number of
    * the document's DISTINCT trigrams present in each language profile
    * (exact integer score; a simplification of Cavnar–Trenkle's rank
    * distance that stays engine-exact). Prediction = max score, ties to
    * the lexicographically first language. Output (id, pred_lang,
    * score). Shape: trigram explode → broadcast profile join → one
    * per-doc hash-agg; profiles never exceed k·|langs| rows. */
  def langIdClassify(docs: DataFrame, idCol: String, textCol: String,
                     profiles: DataFrame): DataFrame = {
    // distinct = true dedups per row inside the generator — the
    // explode(array_distinct(...)) semantics without the array build
    val tri = docs.select(col(idCol).as("id"),
        graft.functions.ShingleExplode
          .shingleExplode(lower(trim(col(textCol))), 3, distinct = true)
          .as("tri"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("plang"))
    tri.join(broadcast(profiles.select(col("lang").as("plang"), col("tri"))),
        Seq("tri"))
      .groupBy(col("id"), col("plang"))
      .agg(count(lit(1)).as("score"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("id"), col("plang").as("pred_lang"), col("score"))
  }
}
