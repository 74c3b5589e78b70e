package graft
package queries

import graft.pipeline.{BpeTrain, Dedup, TextStats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** The text / LLM-data pipeline over `documents`: statistics, dedup,
  * sampling, quality filters, tokenizers, sketches and the link graph. */
private[graft] object TextPipeline {

  /** GPT-2-convention merge table for [[graft.functions.BpeEncode]] —
    * rank = position; chosen so corpus words exercise cascading merges
    * ("data" needs rank-0's output before ranks 10/11 can fire). */
  private val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"), ("s", "p"),
    ("a", "r"), ("sp", "ar"), ("spar", "k"), ("r", "o"), ("ro", "w"),
    ("d", "a"), ("da", "ta"))

  /** Blocklist for q_blocklist_filter — single words, phrases, and
    * boundary-crossing substrings so the automaton's fail links are
    * actually exercised; one definition feeds Spark AND the oracle. */
  private val blocklist: Seq[String] = Seq(
    "spark", "table table", "agg", "merge batch", "fast order", "scan s",
    "customer", "big big", "a a", "lorem ipsum", "vector", "slow slow")

  /** Unrolled k-round BPE training oracle — the SQL twin of
    * [[BpeTrain.learnMerges]], generated so both engines share one
    * definition of the encoding and the merge rule. Every stage CTE is
    * MATERIALIZED: each s_i is referenced twice (p_{i+1} and s_{i+1}),
    * so default CTE inlining would expand the chain 2^k times. */
  private def bpeTrainSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """with w as materialized (select word, cast(count(*) as bigint) wc
        | from (
        |  select unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0 and not contains(x, chr(1)))) word
        |  from documents) group by 1),
        |s0 as materialized (select word, wc,
        |  chr(1) || chr(1) ||
        |  array_to_string(list_transform(range(1, len(word) + 1),
        |    i -> substr(word, cast(i as int), 1)), chr(1) || chr(1)) ||
        |  chr(1) || chr(1) enc from w)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |p$i as materialized (select sy[cast(i as int)] l,
        |   sy[cast(i as int) + 1] r, cast(sum(wc) as bigint) c
        | from (select wc, list_filter(string_split(enc, chr(1) || chr(1)),
        |     x -> x <> '') sy from s${i - 1}) q,
        |   unnest(range(1, len(sy))) u(i)
        | group by 1, 2),
        |b$i as materialized (select $i it, l, r, c,
        |   (select cast(count(*) as bigint) from p$i) n_pairs
        | from p$i order by c desc, l, r limit 1),
        |s$i as materialized (select word, wc, replace(enc,
        |   chr(1) || l || chr(1) || chr(1) || r || chr(1),
        |   chr(1) || l || r || chr(1)) enc
        | from s${i - 1} cross join b$i)""".stripMargin)
    }
    sb.append((1 to k)
      .map(i => s"select it, l lhs, r rhs, c pair_count, n_pairs from b$i")
      .mkString("\n", "\nunion all\n", ""))
    sb.toString
  }

  /** Unrolled GD-training oracle — the SQL twin of
    * [[pipeline.QualityModel.trainLogReg]] on the q_quality_train
    * features. Stage CTEs materialized (each weight row feeds the next
    * gradient AND the output union). Round i's row carries the POST-
    * update weights and the PRE-update accuracy, exactly like the Spark
    * side; the final row iters+1 scores the final weights. */
  private def logRegSql(iters: Int, lrShift: Int): String = {
    val lr = 1L << lrShift
    val sb = new StringBuilder
    sb.append(
      """with f as materialized (select cast(1 as bigint) x0,
        |   cast(len(tk) - 30 as bigint) x1,
        |   cast(len(list_distinct(tk)) - 20 as bigint) x2,
        |   cast(case when len(tk) >= 30 then 1 else 0 end as bigint) y
        | from (select list_filter(string_split_regex(lower(trim(text)),
        |     '\s+'), x -> len(x) > 0) tk from documents)),
        |wt0 as materialized (select cast(0 as bigint) w0,
        |   cast(0 as bigint) w1, cast(0 as bigint) w2)""".stripMargin)
    for (i <- 1 to iters + 1) {
      sb.append(s""",
        |gr$i as materialized (select
        |   cast(sum(d * x0) as bigint) g0, cast(sum(d * x1) as bigint) g1,
        |   cast(sum(d * x2) as bigint) g2, cast(count(*) as bigint) n,
        |   cast(sum(case when (z > 0) = (y = 1) then 1 else 0 end)
        |     as bigint) nc
        | from (select x0, x1, x2, y, z,
        |     cast(floor(cast(1 as double) / (cast(1 as double)
        |         + exp(-(cast(z as double) / 1e6))) * 1e6 + 0.5) as bigint)
        |       - y * 1000000 d
        |   from (select f.*, x0 * w0 + x1 * w1 + x2 * w2 z
        |     from f cross join wt${i - 1}) q1) q2)""".stripMargin)
      if (i <= iters) sb.append(s""",
        |wt$i as materialized (select
        |   wt${i - 1}.w0 - gr$i.g0 // (gr$i.n * $lr) w0,
        |   wt${i - 1}.w1 - gr$i.g1 // (gr$i.n * $lr) w1,
        |   wt${i - 1}.w2 - gr$i.g2 // (gr$i.n * $lr) w2
        | from wt${i - 1} cross join gr$i)""".stripMargin)
    }
    sb.append((1 to iters + 1).map { i =>
      val wi = math.min(i, iters) // row iters+1 reports the final weights
      s"""select $i it, wt$wi.w0 w_x0, wt$wi.w1 w_x1, wt$wi.w2 w_x2,
         |  gr$i.nc n_correct, gr$i.n n from wt$wi cross join gr$i""".stripMargin
    }.mkString("\n", "\nunion all\n", ""))
    sb.toString
  }

  private val decontaminate = Query("q_decontaminate", (s, dir) => {
    // Benchmark decontamination (pipeline/Dedup.decontaminate): corpus
    // docs sharing any word 8-gram with the held-out "benchmark" slice
    // (doc_id % 97 == 0) are flagged; every candidate appears with its
    // collision count. Benchmark grams broadcast; corpus text never
    // enters a shuffle.
    val docs = t(s, dir, "documents")
    graft.pipeline.Dedup.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 97 === 0), n = 8)
  },
    """with toks as (select doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') tk from documents),
      |cg as (select doc_id,
      |    array_to_string(tk[cast(i as int):cast(i as int)+7], ' ') g
      |  from (select doc_id, tk, unnest(range(1, len(tk) - 6)) i
      |        from toks where doc_id % 97 <> 0)),
      |bg as (select distinct
      |    array_to_string(tk[cast(i as int):cast(i as int)+7], ' ') g
      |  from (select tk, unnest(range(1, len(tk) - 6)) i
      |        from toks where doc_id % 97 = 0)),
      |hits as (select doc_id, count(*) n_collisions
      |  from (select distinct doc_id, g from cg) c join bg using (g)
      |  group by 1)
      |select t.doc_id, coalesce(h.n_collisions, 0) n_collisions,
      |  coalesce(h.n_collisions, 0) > 0 contaminated
      |from (select distinct doc_id from toks where doc_id % 97 <> 0) t
      |left join hits h using (doc_id)""".stripMargin)

  private val cramersV = Query("q_cramers_v", (s, dir) => {
    // Chi-square association between lang and source with Cramér's V:
    // observed/expected from one contingency hash-agg, per-cell
    // contributions micro-quantized before the sum (order-free), and
    // V = sqrt(chi2 / (n * min(r-1, c-1))). Margins ride a broadcast.
    // r8 lesson: the oracle must build the cell term with the IDENTICAL
    // expression tree (e computed ONCE, then (o-e)*(o-e)/e*1e6+0.5
    // floored) — inlining rn*cn/n three times associates differently
    // and ±1-unit cell differences survive into the sum. Finals are
    // (exact long)/1e6 and a correctly-rounded sqrt — no round().
    val docs = t(s, dir, "documents")
    val cells = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rowM = cells.groupBy(col("lang")).agg(sum(col("o")).as("rn"))
    val colM = cells.groupBy(col("source")).agg(sum(col("o")).as("cn"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
    cells.join(broadcast(rowM), "lang").join(broadcast(colM), "source")
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("rn") * col("cn")).cast("double") / col("n"))
      .withColumn("tu", floor((col("o") - col("e")) * (col("o") - col("e"))
        / col("e") * lit(1e6) + lit(0.5)))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("tu")).as("_su"), count(lit(1)).as("n_cells"))
      .select(col("n"), col("n_cells"),
        (col("_su").cast("double") / lit(1e6)).as("chi2"),
        sqrt(col("_su").cast("double") / lit(1e6) /
          (col("n") * least(col("r") - 1, col("c") - 1)).cast("double"))
          .as("cramers_v"))
  },
    """with cells as (select lang, source, count(*) o
      |  from documents group by 1, 2),
      |rm as (select lang, sum(o) rn from cells group by 1),
      |cm as (select source, sum(o) cn from cells group by 1),
      |tt as (select cast(sum(o) as bigint) n, count(distinct lang) r,
      |   count(distinct source) c from cells),
      |ex as (select tt.n, tt.r, tt.c, cells.o,
      |   cast(rm.rn * cm.cn as double) / tt.n e
      | from cells join rm using (lang) join cm using (source) cross join tt),
      |u as (select n, r, c,
      |   cast(floor((o - e) * (o - e) / e * 1e6 + 0.5) as bigint) tu
      | from ex)
      |select n, count(*) n_cells,
      |  cast(sum(tu) as double) / 1e6 chi2,
      |  sqrt(cast(sum(tu) as double) / 1e6
      |    / cast(n * least(r - 1, c - 1) as double)) cramers_v
      |from u group by n, r, c""".stripMargin)

  private val giniTokens = Query("q_gini_tokens", (s, dir) => {
    // Gini concentration of the token-frequency distribution per lang
    // (how head-heavy is the vocabulary): with counts ranked ascending,
    // G = (2 sum(rank*c) - (N+1) sum(c)) / (N sum(c)) — every term an
    // exact int64 and the single trailing division is IEEE-exact.
    // (r8/r9 hash-fails were the oracle's uncast sum(c) → HUGEINT →
    // pandas float64 on the driver, not the values; see header note.)
    val counts = t(s, dir, "documents")
      .select(col("lang"), explode(filter(
        split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("c"), col("tok"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(col("rk") * col("c")).as("_src"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        ((lit(2L) * col("_src") - (col("n_types") + 1) * col("n_tokens"))
          .cast("double") /
          (col("n_types") * col("n_tokens")).cast("double")).as("gini"))
  },
    """with tk as (select lang,
      |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |     x -> len(x) > 0)) tok from documents),
      |c as (select lang, tok, count(*) c from tk group by 1, 2),
      |r as (select lang, c,
      |   cast(row_number() over (partition by lang order by c, tok)
      |     as bigint) rk from c),
      |g as (select lang, count(*) n_types, cast(sum(c) as bigint) n_tokens,
      |   sum(rk * c) src from r group by 1)
      |select lang, n_types, n_tokens,
      |  cast(2 * src - (n_types + 1) * n_tokens as double)
      |    / cast(n_types * n_tokens as double) gini
      |from g""".stripMargin)

  private val vocabEntropy = Query("q_vocab_entropy", (s, dir) => {
    // Shannon entropy of each language's token distribution plus
    // Herdan's C (lexical richness, ln types / ln tokens). Entropy
    // contributions -p ln p quantize to nano-units per TYPE before the
    // sum (order-free); p is an exact count ratio against the
    // broadcast per-lang total. r9: ln routes through the q6 grid
    // first — libm ln differs across builds, and a ±1-ulp spread
    // ×1e9 flipped nano-units on the driver in r8. Entropy is
    // therefore exact-by-construction but accurate to ~6 decimals
    // (each ln carries ≤5e-7 grid error).
    val counts = t(s, dir, "documents")
      .select(col("lang"), explode(filter(
        split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("nt"),
      count(lit(1)).as("n_types"))
    val p = col("c").cast("double") / col("nt")
    counts.join(broadcast(totals), "lang")
      .withColumn("hu", floor(-p * qln(p) * lit(1e9) + lit(0.5)))
      .groupBy(col("lang"), col("nt"), col("n_types"))
      .agg(sum(col("hu")).as("_sh"))
      .select(col("lang"), col("n_types"), col("nt").as("n_tokens"),
        (col("_sh").cast("double") / lit(1e9)).as("entropy"),
        (qln(col("n_types").cast("double")) /
          qln(col("nt").cast("double"))).as("herdan_c"))
  },
    """with tk as (select lang,
      |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |     x -> len(x) > 0)) tok from documents),
      |c as (select lang, tok, count(*) c from tk group by 1, 2),
      |tt as (select lang, sum(c) nt, count(*) n_types from c group by 1),
      |pp as (select c.lang, tt.nt, tt.n_types,
      |   cast(c.c as double) / tt.nt p from c join tt using (lang)),
      |u as (select lang, nt, n_types,
      |   cast(floor(-p * (floor(ln(p) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5)
      |     as bigint) hu
      | from pp)
      |select lang, n_types, cast(nt as bigint) n_tokens,
      |  cast(sum(hu) as double) / 1e9 entropy,
      |  (floor(ln(cast(n_types as double)) * 1e6 + 0.5) / 1e6)
      |    / (floor(ln(cast(nt as double)) * 1e6 + 0.5) / 1e6) herdan_c
      |from u group by lang, nt, n_types""".stripMargin)

  val queries: Seq[Query] = Seq(

    Query("q_doc_stats", (s, dir) => {
      // raw chars/tokens ratio (r10): exact-int division, engine-exact
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.meanTokenLength(col("text")).as("mean_tok_len"),
        TextStats.fingerprint(col("text")).as("fp"))
    },
      """select doc_id,
        | case when length(trim(text)) = 0 then 0
        |   else len(string_split_regex(trim(text), '\s+')) end n_tokens,
        | cast(length(regexp_replace(text, '\s+', '', 'g')) as double)
        |   / len(string_split_regex(trim(text), '\s+')) mean_tok_len,
        | substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) fp
        |from documents""".stripMargin),

    Query("q_dedup_bag", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(Dedup.bagKey(col("text")).as("bag_key"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_members"))
    },
      """select md5(array_to_string(list_sort(
        |   string_split_regex(lower(trim(text)), '\s+')), ' ')) bag_key,
        | min(doc_id) keeper_id, count(*) n_members
        |from documents group by 1""".stripMargin),

    Query("q_token_freq", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
    },
      """select token, count(*) n from (
        | select unnest(string_split_regex(lower(trim(text)), '\s+')) token
        | from documents) t group by 1""".stripMargin),

    Query("q_heavy_hitters", (s, dir) => {
      // sketch-pruned EXACT heavy hitters: one Misra-Gries aggregate
      // (native TypedImperativeAggregate, k=127 counters, mergeable
      // partials) nominates candidates, a broadcast re-count verifies —
      // output equals the plain group-by/HAVING the oracle runs, but at
      // corpus scale the full-vocabulary shuffle never happens. The
      // lossless-prune condition minFrac > 1/(k+1) holds (0.02 > 1/128).
      TextStats.heavyHitters(
          t(s, dir, "documents")
            .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token")),
          "token", minFrac = 0.02, k = 127)
        .select(col("item").as("token"), col("cnt"))
    },
      """with toks as (
        | select unnest(string_split_regex(lower(trim(text)), '\s+')) token
        | from documents),
        |tot as (select count(*) n from toks)
        |select token, cast(count(*) as bigint) cnt
        |from toks, tot group by token, n
        |having count(*) >= ceil(0.02 * n)""".stripMargin),

    Query("q_langid_heuristic", (s, dir) => {
      // raw count ratio (r10): one IEEE division of two exact ints is
      // bit-identical in both engines — no round needed
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.stopwordRatio(col("text")).as("stop_ratio"))
        .withColumn("pred", when(col("stop_ratio") >= 0.02, "en").otherwise("other"))
    },
      """select doc_id, stop_ratio,
        | case when stop_ratio >= 0.02 then 'en' else 'other' end pred
        |from (select doc_id, cast(len(list_filter(
        |   string_split_regex(lower(trim(text)), '\s+'),
        |   x -> x in ('the','a','of','to','and','in','is','that'))) as double)
        |  / len(string_split_regex(lower(trim(text)), '\s+')) stop_ratio
        | from documents) t""".stripMargin),

    Query("q_ngram_jaccard_pairs", (s, dir) => {
      // blocked token-set jaccard with size-ratio pruning (tiny-vocab corpus;
      // Zipfian corpora use Dedup.jaccardPairsByIndex's prefix filter instead)
      Dedup.jaccardPairsBlocked(t(s, dir, "documents"),
        "doc_id", "text", Seq("lang", "source"), 1, 0.85)
    },
      """with g as (select doc_id, lang, source,
        |  list_distinct(string_split_regex(lower(trim(text)), '\s+')) grams
        | from documents)
        |select id_a, id_b, jaccard from (
        | select a.doc_id id_a, b.doc_id id_b,
        |  cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) jaccard
        | from g a join g b on a.lang = b.lang and a.source = b.source
        |  and a.doc_id < b.doc_id) t
        |where jaccard >= 0.85""".stripMargin),

    Query("q_simhash_buckets", (s, dir) => {
      // portable md5-nibble SimHash (Dedup.simhashPortable): doc-level
      // fingerprint + coarse bucket, integer-exact vs the oracle. The
      // xxhash64 native expression (functions/SimHash64) is the fast path
      // and is unit-tested against this semantics.
      Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("fp"),
          shiftrightunsigned(col("fp"), 28).as("bucket"))
    },
      """with toks as (
        |  select doc_id, md5(tok) h
        |  from (select doc_id, unnest(string_split(text, ' ')) tok from documents)
        |  where length(tok) > 0
        |),
        |bits as (
        |  select doc_id, b,
        |    sum(case when substr(h, b, 1) >= '8' then 1 else -1 end) s
        |  from toks, unnest(generate_series(1, 32)) as u(b)
        |  group by 1, 2
        |)
        |select doc_id,
        |  cast(sum(case when s > 0 then 1::bigint << (32 - b) else 0 end) as bigint) fp,
        |  cast(sum(case when s > 0 then 1::bigint << (32 - b) else 0 end) as bigint) >> 28 bucket
        |from bits group by 1""".stripMargin),

    Query("q_dedup_exact", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    },
      """select md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) content_key,
        | min(doc_id) keeper_id, count(*) n_members
        |from documents group by 1""".stripMargin),

    Query("q_minhash_candidates", (s, dir) => {
      // MinHash-LSH near-dup end to end (Dedup.nearDuplicates): banded
      // signatures over word-3-gram shingles -> bucket-local candidate
      // pairs -> exact-Jaccard verify. bands=16/rows=1 pins recall at ~1
      // for J>=0.7 (miss prob (1-J)^16 <= 4e-9) so the LSH output EQUALS
      // the oracle's exhaustive all-pairs truth; 3-gram shingling keeps
      // buckets discriminative (unigram sets on a small vocabulary would
      // collapse every document into one bucket). The O(n^2) comparison
      // never materialises — only bucket-local pairs are generated.
      Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          ngram = 3, threshold = 0.7, numHashes = 16, bands = 16)
        // raw exact-int ratio (r10): bit-identical in both engines
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },
      """with toks as (select doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') t from documents),
        |g as (select doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) grams
        | from toks),
        |pairs as (
        | select a.doc_id id_a, b.doc_id id_b,
        |  cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) jaccard
        | from g a join g b on a.doc_id < b.doc_id)
        |select id_a, id_b, jaccard from pairs where jaccard >= 0.7""".stripMargin),

    Query("q_corpus_pipeline", (s, dir) => {
      // End-to-end training-corpus cleaning in ONE declarative plan:
      // quality gate (Gopher/C4-style score) -> near-dup removal (LSH ->
      // components -> keep component minimum) -> per-language corpus
      // stats. The quality/token scalars ride the scan (no shuffle); the
      // drop list broadcasts; one final hash-agg.
      val docs = t(s, dir, "documents")
      val drop = docComponents(s, dir)
        .filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
      docs
        .withColumn("quality", TextStats.qualityScore(col("text")))
        .withColumn("tokens", TextStats.tokenCount(col("text")))
        .filter(col("quality") >= 0.5)
        .join(broadcast(drop), Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"),
          qk(avg(col("quality")), 6).as("avg_quality"))
    },
      """with recursive toks as (select doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') t from documents),
        |g as (select doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) grams
        | from toks),
        |pairs as (
        | select a.doc_id id_a, b.doc_id id_b
        | from g a join g b on a.doc_id < b.doc_id
        | where cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e as (select id_a u, id_b v from pairs
        |      union select id_b, id_a from pairs),
        |reach as (
        |  select u, u r from (select distinct u from e)
        |  union
        |  select e.u, reach.r from e join reach on reach.u = e.v
        |),
        |dropids as (select u from (select u, min(r) c from reach group by u)
        |            where u <> c),
        |q as (select doc_id, lang,
        |  case when length(trim(text)) = 0 then 0
        |       else len(string_split_regex(trim(text), '\s+')) end n_tok,
        |  length(regexp_replace(text, '\s', '', 'g')) nonspace,
        |  length(regexp_replace(text, '\s', '', 'g'))
        |    - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) punct,
        |  length(text) ln,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) digits
        | from documents),
        |scored as (select doc_id, lang, n_tok,
        |  floor((
        |    least(cast(n_tok as double)/50.0, 1.0)*0.4
        |    + (1.0 - least((case when nonspace = 0 then 0.0
        |        else cast(punct as double)/nonspace end)*5.0, 1.0))*0.3
        |    + (1.0 - least((case when ln = 0 then 0.0
        |        else cast(digits as double)/ln end)*5.0, 1.0))*0.3
        |)*1e6 + 0.5)/1e6 quality
        | from q)
        |select lang, count(*) n_docs,
        |  cast(sum(n_tok) as bigint) total_tokens,
        |  floor((avg(quality))*1e6 + 0.5)/1e6 avg_quality
        |from scored
        |where quality >= 0.5 and doc_id not in (select u from dropids)
        |group by 1""".stripMargin),

    Query("q_hash_sample", (s, dir) => {
      // RNG-free Bernoulli sample (pipeline.Sampling.hashSample): keep
      // rows whose salted-md5 fraction < 0.2 — membership is a pure
      // function of (doc_id, salt), reproducible across runs, retries and
      // partitionings (df.sample is not). No shuffle.
      graft.pipeline.Sampling.hashSample(
          t(s, dir, "documents"), col("doc_id"), p = 0.2)
        .select(col("doc_id"), col("lang"))
    },
      """select doc_id, lang from documents
        |where cast(cast(concat('0x', substr(md5(concat(cast(doc_id as varchar), 'graft')), 1, 13))
        |  as ubigint) as double)/4503599627370496.0 < 0.2""".stripMargin),

    Query("q_tfidf_top_terms", (s, dir) => {
      // TF-IDF (smoothed idf) + top-3 terms per document; vocabulary joins
      // on the term key (never broadcast — corpus-scale vocabularies).
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      val scored = TextStats.tfidf(docs, "doc_id", "text", nDocs = 50L)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          qk(col("tfidf"), 6).as("tfidf"))
    },
      """with docs as (select * from documents where doc_id < 50),
        |toks as (select doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) term
        | from docs),
        |tf as (select doc_id, term, count(*) tf from toks
        | where len(term) > 0 group by 1, 2),
        |dft as (select term, count(*) df_t from tf group by 1),
        |scored as (select tf.doc_id, tf.term, tf.tf,
        |  tf.tf * (ln((50 + 1.0)/(df_t + 1.0)) + 1.0) tfidf
        | from tf join dft on dft.term = tf.term),
        |r as (select doc_id, term, tfidf,
        |  row_number() over (partition by doc_id order by tfidf desc, term) rk
        | from scored)
        |select doc_id, rk, term,
        |  floor((tfidf)*1e6 + 0.5)/1e6 tfidf
        |from r where rk <= 3""".stripMargin),

    Query("q_dedup_apply", (s, dir) => {
      // The dedup KEEP step: near-dup components -> drop every member
      // except the component's min id -> corpus counts. Composes
      // nearDuplicates + connectedComponents + an anti-join back onto the
      // corpus (the documents table never re-shuffles: the drop list
      // broadcasts).
      val docs = t(s, dir, "documents")
      val comp = docComponents(s, dir)
      val drop = comp.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(1).as("_dropped"))
      // r10: before/after/langs from ONE broadcast-marked scan — the r9
      // form ran docs.count() on the driver at plan time, a second full
      // corpus scan (pointless 2× read at lake scale)
      docs.join(broadcast(drop), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("_dropped").isNull, 1L).otherwise(0L)).as("n_after"),
          countDistinct(when(col("_dropped").isNull, col("lang"))).as("n_langs"))
        .select(col("n_before"), col("n_after"), col("n_langs"))
    },
      """with recursive toks as (select doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') t from documents),
        |g as (select doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) grams
        | from toks),
        |pairs as (
        | select a.doc_id id_a, b.doc_id id_b
        | from g a join g b on a.doc_id < b.doc_id
        | where cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e as (select id_a u, id_b v from pairs
        |      union select id_b, id_a from pairs),
        |reach as (
        |  select u, u r from (select distinct u from e)
        |  union
        |  select e.u, reach.r from e join reach on reach.u = e.v
        |),
        |comp as (select u, min(r) c from reach group by u),
        |dropids as (select u from comp where u <> c),
        |kept as (select * from documents where doc_id not in (select u from dropids))
        |select (select count(*) from documents) n_before,
        |  count(*) n_after, count(distinct lang) n_langs
        |from kept""".stripMargin),

    Query("q_dedup_clusters", (s, dir) => {
      // Near-dup CLUSTER assignment: MinHash-LSH candidate pairs ->
      // connected components (min-label propagation, one label-table
      // shuffle per round) -> (doc, component, cluster_size); the
      // component min-id is the canonical survivor. Oracle: recursive-CTE
      // transitive closure over the same exhaustive pair truth.
      val comp = docComponents(s, dir)
      val w = Window.partitionBy(col("component"))
      comp.withColumn("cluster_size", count(lit(1)).over(w))
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
    },
      """with recursive toks as (select doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') t from documents),
        |g as (select doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) grams
        | from toks),
        |pairs as (
        | select a.doc_id id_a, b.doc_id id_b
        | from g a join g b on a.doc_id < b.doc_id
        | where cast(len(list_intersect(a.grams, b.grams)) as double)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
        |e as (select id_a u, id_b v from pairs
        |      union select id_b, id_a from pairs),
        |reach as (
        |  select u, u r from (select distinct u from e)
        |  union
        |  select e.u, reach.r from e join reach on reach.u = e.v
        |)
        |select u doc_id, min(r) component,
        |  count(*) over (partition by min(r)) cluster_size
        |from reach group by u""".stripMargin),

    Query("q_trigram_nll", (s, dir) => {
      // CCNet-style LM quality signal: char-trigram corpus LM -> per-doc
      // mean negative log-likelihood (pipeline/TextStats.trigramNll).
      // Micro-quantized per-trigram log-probs make the mean order-free,
      // so the DuckDB twin (range-join trigram explode + the same join)
      // hash-matches exactly.
      graft.pipeline.TextStats.trigramNll(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "doc_id", "text")
    },
      """with base as (select doc_id, lower(text) t from documents
        |  where doc_id % 5 = 0 and length(text) >= 3),
        |pos as (select doc_id, t, unnest(range(1, length(t) - 1)) i from base),
        |tri as (select doc_id, substr(t, cast(i as int), 3) tg from pos),
        |lm as (select tg, count(*) c from tri group by 1),
        |tot as (select sum(c) n from lm),
        |lp as (select doc_id,
        |    cast(floor(ln(cast(c as double) / n) * 1e6 + 0.5) as bigint) lp
        |  from tri join lm using (tg) cross join tot)
        |select doc_id, count(*) n_trigrams,
        |  -round(cast(sum(lp) as double) / count(*)) / 1e6 mean_nll
        |from lp group by 1""".stripMargin),

    decontaminate,

    Query("q_repetition_signals", (s, dir) => {
      // Gopher repetition filters (TextStats.repetitionSignals): duplicate
      // 3-gram fraction + top-3-gram mass per document — exact integer
      // ratios, bit-identical across engines.
      graft.pipeline.TextStats.repetitionSignals(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0), "doc_id", "text")
    },
      """with toks as (select doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') tk
        |  from documents where doc_id % 3 = 0),
        |grams as (select doc_id,
        |    array_to_string(tk[cast(i as int):cast(i as int)+2], ' ') g
        |  from (select doc_id, tk, unnest(range(1, len(tk) - 1)) i from toks)),
        |cnt as (select doc_id, g, count(*) c from grams group by 1, 2)
        |select doc_id, cast(sum(c) as bigint) n_ngrams,
        |  1.0 - cast(count(*) as double) / sum(c) dup_ngram_frac,
        |  cast(max(c) as double) / sum(c) top_ngram_frac
        |from cnt group by 1""".stripMargin),

    Query("q_jaccard_postings_dfcut", (s, dir) => {
      // the inverted-index Jaccard join behind the df-ordered PREFIX
      // filter (AllPairs/SSJoin): only each doc's |d|−⌈t|d|⌉+1 rarest
      // trigrams are indexed, the prefix-to-prefix equi-join (plus the
      // t·max ≤ min size prune) generates candidates, and every candidate
      // is verified with an EXACT J over the full shingle sets. The
      // prefix filter is LOSSLESS — the r7 absolute df-cut it replaces
      // both failed to prune at sf0.1 (df ≤ 20 kept 99.8% of postings)
      // and lost recall as df grew with the corpus — so the oracle is
      // simply the exhaustive Jaccard join: the hash check pins that the
      // pruned plan emits exactly the full answer.
      Dedup.jaccardPairsByIndex(
          t(s, dir, "documents").withColumn("blk", lit(1)),
          "doc_id", "text", Seq("blk"), ngram = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },
      """with toks as (select doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') tk from documents),
        |g as (select distinct doc_id,
        |    array_to_string(tk[cast(i as int):cast(i as int)+2], ' ') tok
        |  from (select doc_id, tk, unnest(range(1, len(tk) - 1)) i from toks)),
        |sz as (select doc_id, count(*) sz from g group by 1),
        |com as (select a.doc_id id_a, b.doc_id id_b, count(*) common
        |  from g a join g b on a.tok = b.tok and a.doc_id < b.doc_id
        |  group by 1, 2)
        |select id_a, id_b,
        |  cast(common as double)/(sa.sz + sb.sz - common) jaccard
        |from com join sz sa on sa.doc_id = id_a join sz sb on sb.doc_id = id_b
        |where cast(common as double)/(sa.sz + sb.sz - common) >= 0.6""".stripMargin),

    Query("q_pii_redaction", (s, dir) => {
      // PII scrub over the corpus: emails / dashed phones / IPv4 quads
      // planted deterministically from doc_id (the word-salad corpus has
      // none of its own), counted and redacted with typed placeholders —
      // pure regexp Column expressions (TextStats.piiEmails/redactPii),
      // codegen'd, patterns portable between Java regex and RE2 so the
      // oracle replays the identical replacement. The redacted STRING
      // itself is hash-compared, not just the counts.
      import graft.pipeline.TextStats
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"), lit("@mail"),
            (col("doc_id") % 3).cast("string"), lit(".org now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
            ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), planted.as("txt"))
        .select(col("doc_id"),
          TextStats.piiEmails(col("txt")).as("n_emails"),
          TextStats.piiPhones(col("txt")).as("n_phones"),
          TextStats.piiIps(col("txt")).as("n_ips"),
          TextStats.redactPii(col("txt")).as("redacted"))
    },
      """with d as (select doc_id, concat(text,
        |  case when doc_id % 4 = 0 then concat(' reach user', doc_id, '@mail',
        |    doc_id % 3, '.org now') else '' end,
        |  case when doc_id % 5 = 0 then concat(' call 555-010-',
        |    lpad(cast(doc_id % 10000 as varchar), 4, '0')) else '' end,
        |  case when doc_id % 3 = 0 then concat(' from 10.', doc_id % 256, '.0.',
        |    (doc_id * 7) % 256) else '' end) txt from documents)
        |select doc_id,
        |  cast(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as int) n_emails,
        |  cast(len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b')) as int) n_phones,
        |  cast(len(regexp_extract_all(txt,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as int) n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') redacted
        |from d""".stripMargin),

    Query("q_paragraph_dedup", (s, dir) => {
      // C4-style paragraph-level exact dedup: texts rebuilt as 4 planted
      // '|'-separated paragraphs drawn from a 37-slot pool (slot 4 always
      // repeats slot 1, so within-doc repeats are exercised alongside
      // cross-doc collisions); each distinct paragraph survives only at
      // its smallest (doc, position). Ownership travels as (id, pos,
      // hash) triples — paragraph text never enters the dedup shuffle
      // (pipeline/Dedup.paragraphDedup); the oracle replays the rule
      // with a row_number window over the paragraph text itself.
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("p"), (col("doc_id") % 37).cast("string"),
          lit("|p"), ((col("doc_id") * 7) % 37).cast("string"),
          lit("|p"), ((col("doc_id") * 13 + 5) % 37).cast("string"),
          lit("|p"), (col("doc_id") % 37).cast("string")).as("text"))
      Dedup.paragraphDedup(d, "doc_id", "text", "|")
    },
      """with d as (select doc_id, concat('p', doc_id % 37, '|p', (doc_id*7) % 37,
        |  '|p', (doc_id*13+5) % 37, '|p', doc_id % 37) txt from documents),
        |p as (select doc_id, i - 1 pos, string_split(txt, '|')[cast(i as int)] para
        |  from d cross join range(1, 5) r(i)),
        |rk as (select doc_id, pos, para,
        |  row_number() over (partition by para order by doc_id, pos) rn from p),
        |k as (select doc_id, pos, para from rk where rn = 1),
        |agg as (select doc_id, count(*) n_kept,
        |  string_agg(para, '|' order by pos) text_kept from k group by 1)
        |select d.doc_id, cast(4 as int) n_paras,
        |  cast(coalesce(a.n_kept, 0) as int) n_kept,
        |  coalesce(a.text_kept, '') text_kept
        |from d left join agg a on a.doc_id = d.doc_id""".stripMargin),

    Query("q_substring_dedup", (s, dir) => {
      // Exact substring dedup (the distributed form of Lee et al. 2022's
      // suffix-array pass) over the REAL documents table: any 8-token
      // window whose content occurred earlier in (doc, pos) order marks
      // its span duplicated; overlapping spans merge per doc. The
      // synthetic corpus' small vocabulary makes genuine cross-doc
      // window collisions plentiful, so the merge path is exercised.
      // The oracle replays the rule over the window STRINGS themselves —
      // confirming the engine's hash-before-shuffle plan loses nothing.
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },
      """with t as (select doc_id, string_split(text, ' ') toks from documents),
        |w as (select doc_id, unnest(range(1, greatest(len(toks) - 6, 1))) pos, toks from t),
        |wh as (select doc_id, pos, array_to_string(toks[pos : pos + 7], ' ') win from w),
        |rk as (select doc_id, pos,
        |  row_number() over (partition by win order by doc_id, pos) rn from wh),
        |dup as (select doc_id, pos s, pos + 8 e from rk where rn > 1),
        |m0 as (select doc_id, s, e, max(e) over (partition by doc_id order by s
        |  rows between unbounded preceding and 1 preceding) maxe from dup),
        |m1 as (select doc_id, s, e,
        |  case when maxe is null or s > maxe then 1 else 0 end isnew from m0),
        |m2 as (select doc_id, s, e,
        |  sum(isnew) over (partition by doc_id order by s) grp from m1),
        |mi as (select doc_id, grp, min(s) s, max(e) e from m2 group by 1, 2),
        |cov as (select doc_id, cast(sum(e - s) as bigint) ndt from mi group by 1),
        |dw as (select doc_id, cast(count(*) as bigint) ndw from dup group by 1)
        |select d.doc_id, cast(len(string_split(d.text, ' ')) as bigint) n_tokens,
        |  coalesce(ndw, 0) n_dup_windows, coalesce(ndt, 0) n_dup_tokens,
        |  cast(len(string_split(d.text, ' ')) - coalesce(ndt, 0) as bigint) n_tokens_kept
        |from documents d
        |left join dw on dw.doc_id = d.doc_id
        |left join cov on cov.doc_id = d.doc_id
        |order by d.doc_id""".stripMargin),

    Query("q_winnow_fingerprints", (s, dir) => {
      // Winnowing (Schleimer/Wilkerson/Aiken) document fingerprints,
      // oracle-EXACT: the char-5-gram polynomial hash (B=257 mod 2^31-1
      // over normalised [a-z0-9 ] codes) and the window-min selection key
      // are both engine-portable, so DuckDB replays hashing AND selection
      // bit-for-bit. k=5/w=8 guarantees a shared fingerprint for any
      // shared normalised substring of >= 12 chars while sampling ~2/9
      // of positions. Document-local end to end (one window inside
      // doc_id partitions) — no cross-document state at any scale.
      winnowFps(s, dir).select(col("doc_id"), col("pos"), col("fp"))
    },
      s"""with $winnowSql
         |select doc_id, pos, fp from wfp""".stripMargin),

    Query("q_winnow_overlap", (s, dir) => {
      // The MOSS overlap front over the winnowed fingerprints: pairs
      // sharing >= 5 distinct fingerprints, with a RELATIVE df cut
      // (fp kept iff its doc frequency <= 5% of the corpus) so
      // boilerplate shingles shared by everything never reach the
      // postings self-join — the contract that survives corpus growth
      // (PLANS sec. 40), replayed exactly by the oracle.
      graft.pipeline.Dedup.winnowOverlapOfFps(
          // distinct is REQUIRED here: the generator de-dups (pos,fp)
          // pairs, but one doc can select the same fp at several
          // positions — (doc,fp) still needs the collapse
          winnowFps(s, dir).select(col("doc_id").as("doc"), col("fp")).distinct(),
          t(s, dir, "documents").select(countDistinct(col("doc_id")).as("n_docs")),
          minShared = 5, maxDfFrac = 0.05)
        .select(col("id_a"), col("id_b"), col("shared"))
    },
      s"""with $winnowSql,
         |posts as (select distinct doc_id doc, fp from wfp),
         |tot as (select count(distinct doc_id) n from documents),
         |kept as (select fp from posts cross join tot
         |  group by fp, n having count(*) <= n * 0.05),
         |pk as (select doc, fp from posts where fp in (select fp from kept))
         |select a.doc id_a, b.doc id_b, cast(count(*) as bigint) shared
         |from pk a join pk b on a.fp = b.fp and a.doc < b.doc
         |group by 1, 2 having count(*) >= 5""".stripMargin),

    Query("q_decontaminate_bloom", (s, dir) => {
      // Bloom-prefiltered decontamination (Dedup.decontaminateBloom): the
      // benchmark 8-grams ship as a 2^20-bit filter literal (16 KiB)
      // instead of broadcast strings; corpus grams failing any of the 4
      // probes drop at scan speed and survivors verify exactly, so the
      // result EQUALS q_decontaminate row-for-row (same oracle SQL).
      val docs = t(s, dir, "documents")
      graft.pipeline.Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), n = 8)
    },
      // identical output contract to the exact join by construction
      decontaminate.oracle),

    Query("q_mixture_lang", (s, dir) => {
      // Data-mixing sample (Sampling.mixtureSample): rebalance the corpus
      // to a target language mix (en 50%, de/fr/es/zh 12.5% each). The
      // feasibility minimum and per-lang keep rates compose in-plan from
      // broadcast one-row frames; membership is the salted-md5 fraction,
      // replayed exactly by the oracle.
      graft.pipeline.Sampling.mixtureSample(
          t(s, dir, "documents"), "lang", col("doc_id"),
          Map("en" -> 0.5, "de" -> 0.125, "fr" -> 0.125,
              "es" -> 0.125, "zh" -> 0.125))
        .select(col("doc_id"), col("lang"), col("source"))
    },
      """with c as (select lang, count(*) cnt from documents group by 1),
        |t(lang, tgt) as (select * from (values
        |  ('en', cast(0.5 as double)), ('de', cast(0.125 as double)),
        |  ('fr', cast(0.125 as double)), ('es', cast(0.125 as double)),
        |  ('zh', cast(0.125 as double)))),
        |j as (select c.lang, cnt, tgt from c join t using (lang)),
        |mt as (select min(cnt/tgt) tt from j),
        |r as (select lang, least(cast(1.0 as double), tt*tgt/cnt) rate
        |  from j cross join mt)
        |select d.doc_id, d.lang, d.source from documents d join r using (lang)
        |where cast(cast(concat('0x', substr(md5(concat(cast(doc_id as varchar), 'graft-mix')), 1, 13))
        |  as ubigint) as double)/4503599627370496.0 < rate""".stripMargin),

    Query("q_temperature_mixture", (s, dir) => {
      // r12: temperature-scaled rebalance (Sampling.temperatureMixture,
      // the p_i ∝ n_i^alpha multilingual-pretraining rule) at alpha=0.5:
      // keep rate (n_min/n_i)^0.5 per language, smallest language kept
      // whole. sqrt/mult/div are IEEE-exact, so the oracle replays the
      // rates and the salted-md5 membership bit-identically.
      graft.pipeline.Sampling.temperatureMixture(
          t(s, dir, "documents"), "lang", col("doc_id"), alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
    },
      """with c as (select lang, count(*) cnt from documents group by 1),
        |mt as (select min(cast(cnt as double)/sqrt(cast(cnt as double))) tt from c),
        |r as (select lang, least(cast(1.0 as double),
        |  tt*sqrt(cast(cnt as double))/cast(cnt as double)) rate
        |  from c cross join mt)
        |select d.doc_id, d.lang, d.source from documents d join r using (lang)
        |where cast(cast(concat('0x', substr(md5(concat(cast(doc_id as varchar), 'graft-temp')), 1, 13))
        |  as ubigint) as double)/4503599627370496.0 < rate""".stripMargin),

    Query("q_pack_sequences", (s, dir) => {
      // Context-window packing (Packing.packGreedy): shard-local greedy
      // layout of whitespace token counts into 512-token bins, 16 shards.
      // The sequential carry (bin fill) lives in an O(1)-state partition
      // scan; the oracle replays the same recurrence with a recursive CTE
      // per shard. Output is one row per document with its bin placement.
      val docs = t(s, dir, "documents")
      graft.pipeline.Packing.packGreedy(docs, "doc_id",
          graft.pipeline.TextStats.tokenCount(col("text")),
          maxLen = 512, shards = 16)
        .select(col("doc_id"), col("shard"), col("bin"),
          col("bin_offset"), col("n_tok"))
    },
      """with recursive d as (select doc_id, cast(doc_id % 16 as int) shard,
        |  cast(case when trim(text) = '' then 0
        |    else len(string_split_regex(trim(text), '\s+')) end as int) nt
        |  from documents),
        |r as (select *, row_number() over (partition by shard order by doc_id) rn from d),
        |rec as (
        |  select doc_id, shard, nt, rn, 0 bin, 0 boff, nt used
        |  from r where rn = 1
        |  union all
        |  select r.doc_id, r.shard, r.nt, r.rn,
        |    case when rec.used > 0 and rec.used + r.nt > 512
        |         then rec.bin + 1 else rec.bin end,
        |    case when rec.used > 0 and rec.used + r.nt > 512
        |         then 0 else rec.used end,
        |    case when rec.used > 0 and rec.used + r.nt > 512
        |         then r.nt else rec.used + r.nt end
        |  from rec join r on r.shard = rec.shard and r.rn = rec.rn + 1)
        |select doc_id, shard, cast(bin as int) bin,
        |  cast(boff as int) bin_offset, nt n_tok
        |from rec""".stripMargin),

    Query("q_pmi_bigrams", (s, dir) => {
      // PMI collocations (TextStats.pmiBigrams): adjacent-pair counts,
      // slot-convention unigram margins, one-row total broadcast — the
      // oracle replays the identical double-ratio arithmetic.
      TextStats.pmiBigrams(t(s, dir, "documents"), "text", minCount = 20L)
        .select(col("w1"), col("w2"), col("n_ab"), col("pmi"))
    },
      """with t as (select string_split_regex(trim(text), '\s+') toks
        |  from documents where trim(text) <> ''),
        |p as (select unnest(list_transform(range(1, len(toks)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) pr
        |  from t where len(toks) >= 2),
        |b as (select pr.w1 w1, pr.w2 w2, count(*) n_ab from p group by 1, 2),
        |l as (select pr.w1 w1, count(*) n_a from p group by 1),
        |r as (select pr.w2 w2, count(*) n_b from p group by 1),
        |n as (select sum(n_ab) n_total from b)
        |select b.w1, b.w2, cast(b.n_ab as bigint) n_ab,
        |  (floor(ln(cast(b.n_ab as double) * cast(n.n_total as double)
        |    / (cast(l.n_a as double) * cast(r.n_b as double))) * 1e6 + 0.5)
        |   / 1e6) pmi
        |from b join l using (w1) join r using (w2), n
        |where b.n_ab >= 20""".stripMargin),

    Query("q_c4_quality", (s, dir) => {
      // C4 page-cleaning heuristics over a deterministically STAGED
      // multi-line corpus (the synthetic documents are single-line, so
      // the query first injects sentence breaks and per-residue lorem/
      // brace contamination — both engines replay the same rewrite).
      // Flags + keep verdict come from TextStats.c4QualityFlags.
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(
          regexp_replace(col("text"), " a ", ".\n"),
          when(col("doc_id") % 7 === 0,
            lit("\nlorem ipsum filler for the page test.")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("\nvar config = { unfinished")).otherwise(lit(""))).as("text"))
      TextStats.c4QualityFlags(staged, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("n_sentences"), col("has_brace"), col("has_lorem"), col("keep"))
    },
      """with staged as (select doc_id,
        |  regexp_replace(text, ' a ', '.' || chr(10), 'g')
        |  || case when doc_id % 7 = 0
        |       then chr(10) || 'lorem ipsum filler for the page test.' else '' end
        |  || case when doc_id % 11 = 0
        |       then chr(10) || 'var config = { unfinished' else '' end as text
        | from documents),
        |l as (select doc_id, text, string_split(text, chr(10)) lines from staged),
        |k as (select doc_id, text, lines,
        |  list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
        |    and len(string_split_regex(trim(x), '\s+')) >= 5) kept from l)
        |select doc_id, cast(len(lines) as int) n_lines,
        |  cast(len(kept) as int) n_kept_lines,
        |  cast(len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''),
        |    '[.!?]')) as int) n_sentences,
        |  contains(text, '{') has_brace,
        |  contains(lower(text), 'lorem ipsum') has_lorem,
        |  (len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''),
        |    '[.!?]')) >= 3
        |   and not contains(text, '{')
        |   and not contains(lower(text), 'lorem ipsum')) keep
        |from k""".stripMargin),

    Query("q_chunk_sliding", (s, dir) => {
      // RAG-style sliding-window chunking (Packing.chunkTokens): 8-token
      // windows every 4 tokens (50% overlap), one output row per chunk
      // with its text, length and start offset. All Column expressions —
      // the plan is a shuffle-free narrow projection off the scan.
      graft.pipeline.Packing.chunkTokens(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", size = 8, stride = 4)
    },
      """with d as (select doc_id,
        |  case when trim(text) = '' then []::varchar[]
        |       else string_split_regex(trim(text), '\s+') end toks
        |  from documents where doc_id % 10 = 0),
        |e as (select doc_id, toks, len(toks) n from d),
        |s as (select doc_id, toks, n, unnest(range(0, n, 4)) st from e)
        |select doc_id, cast(st // 4 as bigint) chunk_id,
        |  array_to_string(toks[st+1:least(st+8, n)], ' ') chunk,
        |  cast(least(8, n - st) as int) chunk_tokens,
        |  cast(st as int) token_start
        |from s""".stripMargin),

    Query("q_gopher_quality", (s, dir) => {
      // Gopher/MassiveText page-quality rules over a deterministically
      // STAGED corpus (single-line synthetic docs get bullet lists,
      // trailing-ellipsis lines, symbol spam and numeric junk injected by
      // doc_id residue — both engines replay the identical rewrite).
      // Signals + keep verdict from TextStats.gopherQualityFlags.
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\n- bullet point list item\n- second bullet entry")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            lit("\nthis sentence trails off...")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit(" ## tag ## tag ##")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" 123 456 789 000 111 222 333 444")).otherwise(lit(""))).as("text"))
      TextStats.gopherQualityFlags(staged, "doc_id", "text",
          minWords = 30, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
          maxSymbolRatio = 0.05, maxBulletFrac = 0.5, maxEllipsisFrac = 0.2,
          minAlphaFrac = 0.9, minStopwords = 1)
        .select(col("doc_id"), col("n_words"), col("n_chars_tok"),
          col("n_symbols"), col("n_lines"), col("n_bullet_lines"),
          col("n_ellipsis_lines"), col("n_alpha_words"), col("n_req_stop"),
          col("keep"))
    },
      """with staged as (select doc_id, text
        |  || case when doc_id % 4 = 0 then chr(10) || '- bullet point list item'
        |       || chr(10) || '- second bullet entry' else '' end
        |  || case when doc_id % 6 = 0
        |       then chr(10) || 'this sentence trails off...' else '' end
        |  || case when doc_id % 9 = 0 then ' ## tag ## tag ##' else '' end
        |  || case when doc_id % 13 = 0
        |       then ' 123 456 789 000 111 222 333 444' else '' end as text
        | from documents),
        |f as (select doc_id, text,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0) toks,
        |  string_split(text, chr(10)) lines from staged),
        |m as (select doc_id,
        |  cast(len(toks) as int) n_words,
        |  cast(coalesce(list_sum(list_transform(toks, x -> len(x))), 0) as bigint)
        |    n_chars_tok,
        |  cast(len(regexp_extract_all(text, '#'))
        |    + len(regexp_extract_all(text, '\.\.\.')) as int) n_symbols,
        |  cast(len(lines) as int) n_lines,
        |  cast(len(list_filter(lines,
        |    x -> regexp_matches(trim(x), '^[-*•‣◦]'))) as int) n_bullet_lines,
        |  cast(len(list_filter(lines,
        |    x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) as int) n_ellipsis_lines,
        |  cast(len(list_filter(toks,
        |    x -> regexp_matches(x, '[a-zà-öø-ÿα-ωа-я]'))) as int) n_alpha_words,
        |  cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    w -> list_contains(toks, w))) as int) n_req_stop
        | from f)
        |select doc_id, n_words, n_chars_tok, n_symbols, n_lines,
        |  n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_req_stop,
        |  (n_words >= 30 and n_words <= 100000
        |   and n_chars_tok >= 3.0 * n_words and n_chars_tok <= 10.0 * n_words
        |   and n_symbols <= 0.05 * n_words
        |   and n_bullet_lines <= 0.5 * n_lines
        |   and n_ellipsis_lines <= 0.2 * n_lines
        |   and n_alpha_words >= 0.9 * n_words
        |   and n_req_stop >= 1) keep
        |from m""".stripMargin),

    Query("q_bm25_topk", (s, dir) => {
      // Okapi BM25 top-50 for a 4-term keyword query (TextStats.bm25TopK):
      // postings restricted to the query terms at the explode, df/corpus
      // stats broadcast, top-k as TakeOrderedAndProject. Contributions are
      // micro-quantized so the per-doc sum is order-free; k1=1.5/b=0.75
      // are binary-exact so both engines fold identical constants.
      TextStats.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("spark", "window", "merge", "vector"), topK = 50)
        .select(col("doc").as("doc_id"), col("n_terms_hit"), col("bm25"))
    },
      """with d as (select doc_id doc,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0) toks from documents),
        |dl as (select doc, toks, cast(len(toks) as int) dl from d),
        |st as (select count(*) n_docs, sum(dl) sum_dl from dl),
        |posts as (select doc, dl, term, count(*) tf
        |  from (select doc, dl, unnest(toks) term from dl)
        |  where term in ('spark', 'window', 'merge', 'vector')
        |  group by 1, 2, 3),
        |dft as (select term, count(*) df_t from posts group by 1),
        |lp as (select doc,
        |    cast(floor(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |      * tf * 2.5
        |      / (tf + 1.5 * (0.25 + 0.75 * (dl * n_docs / sum_dl)))
        |      * 1e6 + 0.5) as bigint) lp
        |  from posts join dft using (term) cross join st),
        |sc as (select doc, sum(lp) score_u, count(*) n_terms_hit
        |  from lp group by 1)
        |select doc doc_id, cast(n_terms_hit as bigint) n_terms_hit,
        |  cast(score_u as double) / 1e6 bm25
        |from sc order by score_u desc, doc limit 50""".stripMargin),

    Query("q_ccnet_buckets", (s, dir) => {
      // CCNet-style quality bucketing: per-language head/middle/tail
      // terciles of the char-trigram LM mean NLL (TextStats.trigramNll —
      // the micro-quantized, engine-exact signal). r9: runs the SCALE
      // path — a tiny exact cutoff table (two boundary order statistics
      // per language) broadcast into a sort-free assignment join —
      // which PropertySpec pins row-identical to the ntile(3) window
      // form the oracle replays.
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val nll = TextStats.trigramNll(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextStats.ccnetBuckets(nll, TextStats.ccnetCutoffs(nll))
        .select(col("doc_id"), col("lang"), col("mean_nll"), col("bucket"))
    },
      """with base as (select doc_id, lower(text) t from documents
        |  where doc_id % 5 = 0 and length(text) >= 3),
        |pos as (select doc_id, t, unnest(range(1, length(t) - 1)) i from base),
        |tri as (select doc_id, substr(t, cast(i as int), 3) tg from pos),
        |lm as (select tg, count(*) c from tri group by 1),
        |tot as (select sum(c) n from lm),
        |lpq as (select doc_id,
        |    cast(floor(ln(cast(c as double) / n) * 1e6 + 0.5) as bigint) lp
        |  from tri join lm using (tg) cross join tot),
        |nll as (select doc_id, count(*) n_trigrams,
        |    -round(cast(sum(lp) as double) / count(*)) / 1e6 mean_nll
        |  from lpq group by 1),
        |j as (select n.doc_id, d.lang, n.mean_nll,
        |    ntile(3) over (partition by d.lang
        |      order by n.mean_nll, n.doc_id) b
        |  from nll n join documents d using (doc_id))
        |select doc_id, lang, mean_nll,
        |  case b when 1 then 'head' when 2 then 'middle' else 'tail' end bucket
        |from j""".stripMargin),

    Query("q_split_assign", (s, dir) => {
      // Deterministic 90/5/5 train/val/test assignment by salted-md5 band
      // (Sampling.splitAssign): stable under repartitioning and corpus
      // growth, no shuffle; thresholds accumulate 0.9, 0.9+0.05 with the
      // same double addition the oracle folds.
      graft.pipeline.Sampling.splitAssign(
          t(s, dir, "documents"), col("doc_id"),
          Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select(col("doc_id"), col("lang"), col("split"))
    },
      """select doc_id, lang,
        |  case
        |    when cast(cast(concat('0x', substr(md5(concat(cast(doc_id as varchar),
        |        'graft-split')), 1, 13)) as ubigint) as double)
        |      / 4503599627370496.0 < 0.9 then 'train'
        |    when cast(cast(concat('0x', substr(md5(concat(cast(doc_id as varchar),
        |        'graft-split')), 1, 13)) as ubigint) as double)
        |      / 4503599627370496.0 < (0.9 + 0.05) then 'val'
        |    else 'test'
        |  end split
        |from documents""".stripMargin),

    Query("q_epoch_shuffle", (s, dir) => {
      // Deterministic epoch shuffle (Sampling.epochShuffle): the global
      // per-epoch reorder of a training corpus — rank under a salted
      // md5 of (epoch, id), ONE balanced range-sort + two-pass
      // zipWithIndex positions (no single-reducer window). Evidence per
      // epoch: the position-weighted id sum, which only matches if the
      // ENTIRE permutation matches; two epochs prove the reorder really
      // changes with the epoch while staying bit-reproducible.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Seq(1, 2).map { ep =>
        graft.pipeline.Sampling.epochShuffle(docs, col("doc_id"), ep)
          .agg(lit(ep).as("epoch"), count(lit(1)).as("n"),
            sum(col("doc_id") * col("shuffle_pos")).as("pos_weighted_sum"),
            max(col("shuffle_pos")).as("max_pos"))
      }.reduce(_ unionByName _)
    },
      // the md5 rank replayed per epoch; pos_weighted_sum pins the whole
      // permutation (any transposition changes it)
      """with ranked as (
        |  select e.epoch, doc_id,
        |    row_number() over (partition by e.epoch
        |      order by md5('graft:' || e.epoch || ':' || doc_id), doc_id)
        |      - 1 pos
        |  from documents cross join (values (1), (2)) e(epoch))
        |select cast(epoch as int) epoch, count(*) n,
        |  cast(sum(doc_id * pos) as bigint) pos_weighted_sum,
        |  cast(max(pos) as bigint) max_pos
        |from ranked group by 1""".stripMargin),

    Query("q_kn_trigram_nll", (s, dir) => {
      // Interpolated Kneser-Ney word-trigram NLL (TextStats.knTrigramNll):
      // continuation-count backoff with binary-exact D=0.75, all counts
      // from the one corpus trigram table, micro-quantized logs -> the
      // oracle replays the identical probability tree.
      TextStats.knTrigramNll(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0), "doc_id", "text")
    },
      """with tk as (select doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0) tk
        |  from documents where doc_id % 3 = 0),
        |tri as (select doc_id,
        |    tk[cast(i as int)+1] w1, tk[cast(i as int)+2] w2,
        |    tk[cast(i as int)+3] w3
        |  from (select doc_id, tk, unnest(range(0, len(tk)-2)) i
        |        from tk where len(tk) >= 3)),
        |c3t as (select w1, w2, w3, count(*) c3 from tri group by 1, 2, 3),
        |c2t as (select w1, w2, sum(c3) c2, count(*) nf3 from c3t group by 1, 2),
        |nmid as (select w2, w3, count(*) nm from c3t group by 1, 2),
        |nctx2 as (select w2, count(*) nc2 from c3t group by 1),
        |bg as (select distinct w2, w3 from c3t),
        |nfol2 as (select w2, count(*) nf2 from bg group by 1),
        |npre as (select w3, npre, cast(sum(npre) over () as bigint) nbg from
        |  (select w3, count(*) npre from bg group by 1)),
        |lp as (select doc_id, cast(floor(ln(
        |    (greatest(c3 - 0.75, 0.0) / c2) +
        |    (((0.75 * nf3) / c2) *
        |      ((greatest(nm - 0.75, 0.0) / nc2) +
        |       (((0.75 * nf2) / nc2) * (npre / nbg))))
        |  ) * 1e6 + 0.5) as bigint) lp
        |  from tri
        |  join c3t using (w1, w2, w3)
        |  join c2t using (w1, w2)
        |  join nmid using (w2, w3)
        |  join nctx2 using (w2)
        |  join nfol2 using (w2)
        |  join npre using (w3))
        |select doc_id, count(*) n_trigrams,
        |  -round(cast(sum(lp) as double) / count(*)) / 1e6 mean_nll
        |from lp group by 1""".stripMargin),

    Query("q_clean_text", (s, dir) => {
      // Canonical cleaning projection (TextStats.cleanText): the staged
      // corpus injects accented tokens, non-folding letters (ss/l-stroke,
      // proving NON-fold parity), a control char and ragged whitespace by
      // residue; both engines rewrite then clean identically. Output
      // carries the md5 of the cleaned text so the hash compare pins
      // every byte.
      val staged = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("  Café NAÏVE  résumé\tüber")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(" straße łódź ŚWIĘTY")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" ctrl\u0001and\u001fchars")).otherwise(lit(""))).as("text"))
      staged.select(col("doc_id"),
        md5(TextStats.cleanText(col("text"))).as("clean_md5"),
        length(TextStats.cleanText(col("text"))).as("clean_len"))
    },
      """with staged as (select doc_id, text
        |  || case when doc_id % 3 = 0
        |       then '  Café NAÏVE  résumé' || chr(9) || 'über' else '' end
        |  || case when doc_id % 5 = 0 then ' straße łódź ŚWIĘTY' else '' end
        |  || case when doc_id % 7 = 0
        |       then ' ctrl' || chr(1) || 'and' || chr(31) || 'chars' else '' end
        |  as text from documents),
        |c as (select doc_id, trim(regexp_replace(regexp_replace(
        |    strip_accents(lower(text)), '[\x00-\x1f\x7f]', '', 'g'),
        |    '\s+', ' ', 'g')) clean
        |  from staged)
        |select doc_id, md5(clean) clean_md5,
        |  cast(length(clean) as int) clean_len from c""".stripMargin),

    Query("q_length_buckets", (s, dir) => {
      // Dynamic-batching prep (Packing.lengthBuckets): bucket docs by
      // padded token length (16-token bands capped at 96), deterministic
      // batch numbers of 8 inside each bucket, per-row padding waste.
      // One shuffle on the bucket key; batch ids are id-ordered so the
      // layout is stable under retries and partitioning.
      val docs = t(s, dir, "documents")
      graft.pipeline.Packing.lengthBuckets(
          docs.withColumn("_nt", size(filter(
            split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0))),
          "doc_id", col("_nt"), step = 16, maxLen = 96, batchSize = 8)
        .select(col("doc_id"), col("n_tokens"), col("bucket_hi"),
          col("batch_id"), col("pad_waste"))
    },
      """with d as (select doc_id,
        |  cast(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0)) as int) n_tokens from documents),
        |b as (select doc_id, n_tokens,
        |  greatest(cast(ceil(cast(least(n_tokens, 96) as double) / 16) * 16
        |    as int), 16) bucket_hi from d)
        |select doc_id, n_tokens, bucket_hi,
        |  cast(floor((row_number() over (partition by bucket_hi order by doc_id)
        |    - 1) / 8) as int) batch_id,
        |  bucket_hi - least(n_tokens, 96) pad_waste
        |from b""".stripMargin),

    Query("q_bpe_tokens", (s, dir) => {
      // Real byte-pair encoding with a fixed merge table
      // (functions.BpeEncode — a native expression, one JVM loop per
      // row): the standard lowest-rank-first merge loop per word,
      // table shipped as a plan-time constant. The oracle replays the
      // identical trajectory with a recursive CTE over the same literal
      // merge list; the md5 over the joined token stream pins every
      // token and its order.
      val toks = graft.functions.BpeEncode.bpeEncode(col("text"), bpeMerges)
      t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), toks.as("_tk"))
        .select(col("doc_id"),
          size(col("_tk")).as("n_bpe_tokens"),
          md5(array_join(col("_tk"), "|")).as("tok_sig"))
    },
      {
      val pl = "['t a','ta b','l e','tab le','s p','a r','sp ar','spar k'," +
        "'r o','ro w','d a','da ta']"
      val rk = s"""list_transform(range(len(toks)-1),
        |      i -> list_position($pl,
        |        toks[cast(i as int)+1] || ' ' || toks[cast(i as int)+2]))""".stripMargin
      s"""with recursive
        |w as (select doc_id, i wi, tk[cast(i as int)+1] word from
        |  (select doc_id, tk, unnest(range(len(tk))) i from
        |    (select doc_id, string_split_regex(trim(text), '\\s+') tk
        |     from documents where doc_id % 20 = 0) q0) q1
        |  where len(tk[cast(i as int)+1]) > 0),
        |init as (select doc_id, wi,
        |  list_transform(range(length(word)), i -> word[cast(i as int)+1]) toks
        | from w),
        |rec as (
        |  select doc_id, wi, toks, 0 it from init
        |  union all
        |  select doc_id, wi,
        |    toks[1:mp-1] || [replace($pl[best], ' ', '')]
        |      || toks[mp+2:len(toks)] toks,
        |    it + 1
        |  from (
        |    select doc_id, wi, toks, it,
        |      list_min(list_filter($rk, x -> x > 0)) best,
        |      list_position($rk, list_min(list_filter($rk, x -> x > 0))) mp
        |    from rec) q
        |  where best is not null),
        |fin as (select doc_id, wi, toks from (
        |  select doc_id, wi, toks,
        |    list_min(list_filter($rk, x -> x > 0)) best
        |  from rec) q2 where best is null),
        |dt as (select doc_id, flatten(list(toks order by wi)) tk2
        |  from fin group by 1)
        |select doc_id, cast(len(tk2) as int) n_bpe_tokens,
        |  md5(array_to_string(tk2, '|')) tok_sig
        |from dt""".stripMargin
    }),

    Query("q_zipf_slope", (s, dir) => {
      // Zipf-law diagnostic per language: least-squares slope of
      // ln(freq) on ln(rank) over each lang's top-100 tokens. Both logs
      // micro-quantize to int64 BEFORE the regression sums, so
      // S_xy/S_xx accumulate exactly (order-free) and only the final
      // ratio is floating — a healthy natural-language corpus sits
      // near slope -1.
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(filter(
          split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)).as("tok"))
      val counts = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok"))
      val ranked = counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100)
        // floor(ln·1e6 + 0.5), not round(ln·1e6): portable across libm
        // builds; the regression sums then accumulate exact int64s
        .select(col("lang"),
          floor(log(col("rk").cast("double")) * lit(1e6) + lit(0.5)).as("lx"),
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5)).as("ly"))
      ranked.groupBy(col("lang"))
        .agg(count(lit(1)).as("r_n"), sum(col("lx")).as("sx"),
          sum(col("ly")).as("sy"), sum(col("lx") * col("ly")).as("sxy"),
          sum(col("lx") * col("lx")).as("sxx"))
        .select(col("lang"), col("r_n"),
          ((col("r_n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("r_n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("zipf_slope"))
    },
      """with tk as (select lang,
        |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |     x -> len(x) > 0)) tok from documents),
        |c as (select lang, tok, count(*) c from tk group by 1, 2),
        |rr as (select lang, c,
        |   row_number() over (partition by lang order by c desc, tok) rk
        | from c),
        |r as (select lang,
        |   cast(floor(ln(cast(rk as double)) * 1e6 + 0.5) as bigint) lx,
        |   cast(floor(ln(cast(c as double)) * 1e6 + 0.5) as bigint) ly
        | from rr where rk <= 100),
        |g as (select lang, count(*) r_n, sum(lx) sx, sum(ly) sy,
        |   sum(lx * ly) sxy, sum(lx * lx) sxx from r group by 1)
        |select lang, r_n,
        |  cast(r_n * sxy - sx * sy as double)
        |    / cast(r_n * sxx - sx * sx as double) zipf_slope
        |from g""".stripMargin),

    Query("q_k_anonymity", (s, dir) => {
      // Privacy audit for training-data release: group sizes over the
      // (lang, source) quasi-identifier, rows in groups below k = 10
      // flagged as re-identifiable. One hash-agg; at corpus scale the
      // audit is the same single shuffle however many rows.
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("group_n"))
        .withColumn("at_risk", col("group_n") < 10)
        .orderBy(col("lang"), col("source"))
    },
      """select lang, source, count(*) group_n,
        |  count(*) < 10 at_risk
        |from documents group by 1, 2 order by 1, 2""".stripMargin),

    Query("q_js_divergence", (s, dir) => {
      // Jensen-Shannon divergence between the en and de token
      // distributions — the corpus-drift diagnostic. Probabilities are
      // exact count ratios; each token's contribution quantizes to
      // nano-units BEFORE the sum (order-free), and absent-side tokens
      // flow through the same expression with q = 0 (the 0*ln term
      // drops via the conditional).
      val toks = t(s, dir, "documents")
        .filter(col("lang").isin("en", "de"))
        .select(col("lang"), explode(filter(
          split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)).as("tok"))
      val counts = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("nt"))
      val cw = counts.join(totals, "lang")
      val en = cw.filter(col("lang") === "en")
        .select(col("tok"), col("c").as("ca"), col("nt").as("na"))
      val de = cw.filter(col("lang") === "de")
        .select(col("tok"), col("c").as("cb"), col("nt").as("nb"))
      val j = en.join(de, Seq("tok"), "full_outer")
      // the absent side of the full-outer join loses its total: re-attach
      // both corpus totals from a one-row broadcast
      val filled = j.crossJoin(broadcast(totals.agg(
          max(when(col("lang") === "en", col("nt"))).as("tna"),
          max(when(col("lang") === "de", col("nt"))).as("tnb"))))
        .select(col("tok"),
          coalesce(col("ca"), lit(0L)).as("ca"), col("tna"),
          coalesce(col("cb"), lit(0L)).as("cb"), col("tnb"))
      // r9 hardening (same class as the r8 vocab-entropy fail): ln goes
      // through the q6 grid so libm spread can't flip nano-units, and the
      // final is (exact long)/2e9 with no round().
      val p = col("ca").cast("double") / col("tna")
      val q = col("cb").cast("double") / col("tnb")
      val m = (p + q) / 2.0
      val term = when(col("ca") > 0, p * qln(p / m)).otherwise(lit(0.0)) +
        when(col("cb") > 0, q * qln(q / m)).otherwise(lit(0.0))
      filled
        .select(floor(term * lit(1e9) + lit(0.5)).as("tu"))
        .agg(count(lit(1)).as("n_union_tokens"), sum(col("tu")).as("_su"))
        .select(col("n_union_tokens"),
          (col("_su").cast("double") / lit(2e9)).as("js_divergence"))
    },
      """with tk as (select lang,
        |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |     x -> len(x) > 0)) tok
        | from documents where lang in ('en', 'de')),
        |c as (select lang, tok, count(*) c from tk group by 1, 2),
        |tt as (select lang, sum(c) nt from c group by 1),
        |en as (select tok, c ca from c where lang = 'en'),
        |de as (select tok, c cb from c where lang = 'de'),
        |tot as (select
        |   max(case when lang = 'en' then nt end) tna,
        |   max(case when lang = 'de' then nt end) tnb from tt),
        |f as (select coalesce(en.tok, de.tok) tok,
        |   coalesce(ca, 0) ca, coalesce(cb, 0) cb, tot.tna, tot.tnb
        | from en full outer join de on en.tok = de.tok cross join tot),
        |pq as (select ca, cb,
        |   cast(ca as double) / tna p, cast(cb as double) / tnb q from f),
        |pm as (select ca, cb, p, q, (p + q) / 2.0 m from pq),
        |u as (select
        |   cast(floor((
        |     (case when ca > 0
        |        then p * (floor(ln(p / m) * 1e6 + 0.5) / 1e6)
        |        else 0.0 end)
        |     + (case when cb > 0
        |        then q * (floor(ln(q / m) * 1e6 + 0.5) / 1e6)
        |        else 0.0 end)) * 1e9 + 0.5) as bigint) tu
        | from pm)
        |select count(*) n_union_tokens,
        |  cast(sum(tu) as double) / 2e9 js_divergence
        |from u""".stripMargin),

    cramersV,

    giniTokens,

    vocabEntropy,

    Query("q_unicode_normalize", (s, dir) => {
      // NFC canonicalization in front of content keys (NfcNormalize —
      // native codegen'd expression): the corpus is decomposed
      // deterministically (every 'e' gains a combining acute U+0301),
      // normalized back, and keyed by md5. composed_marks counts the
      // code points NFC composed away; nfc_sum only matches the oracle's
      // utf8proc-normalized md5s if JDK and DuckDB agree on TR15 for
      // every document. Per-row and shuffle-free below the final agg.
      val docs = t(s, dir, "documents")
      val deco = regexp_replace(col("text"), lit("e"), lit("e\u0301"))
      docs.select(col("lang"), deco.as("d"))
        .withColumn("nn", graft.functions.NfcNormalize.nfcNormalize(col("d")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("nn")), 1, 8), 16, 10).cast("long"))
            .as("nfc_sum"),
          sum(length(col("d")) - length(col("nn"))).as("composed_marks"))
    },
      // chr(769) = U+0301 combining acute; utf8proc's nfc_normalize must
      // agree with the JDK normalizer on every document for nfc_sum to hash
      """with d as (select lang,
        |   regexp_replace(text, 'e', 'e' || chr(769), 'g') d from documents),
        |n as (select lang, d, nfc_normalize(d) nn from d)
        |select lang, cast(count(*) as bigint) n_docs,
        |  cast(sum(cast(concat('0x', substr(md5(nn), 1, 8)) as ubigint))
        |    as bigint) nfc_sum,
        |  cast(sum(length(d) - length(nn)) as bigint) composed_marks
        |from n group by lang""".stripMargin),

    Query("q_html_extract", (s, dir) => {
      // HTML → text extraction (HtmlTextExtract — native codegen'd state
      // machine): each document is wrapped into a deterministic page
      // (title/style/h1/comment/entities/script-with-inner-'<'), then
      // extracted back. The oracle rebuilds the identical page in SQL and
      // extracts with an independent regex chain — agreement on every md5
      // proves the tokenizer's tag/script/comment/entity semantics, not
      // just row counts. Per-row, shuffle-free below the final agg.
      val docs = t(s, dir, "documents")
      val page = concat(
        lit("<html><head><title>"), col("source"),
        lit("</title><style type=\"text/css\">p{color:red}</style>" +
          "</head><body><h1>"),
        col("source"), lit(" page</h1><!-- id "), col("doc_id"),
        lit(" --><p>"), col("text"),
        lit(" &amp; tail &#233;</p><script>if(1<2){alert(\"x&y\")}" +
          "</script></body></html>"))
      docs.select(col("lang"),
          graft.functions.HtmlText.htmlText(page).as("txt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("txt")), 1, 8), 16, 10).cast("long"))
            .as("text_sum"),
          sum(length(col("txt"))).as("sum_chars"))
    },
      // independent extraction path: regex chain (script/style with content
      // -> comments -> tags -> targeted entity decode -> collapse), valid
      // for exactly this constrained synthetic markup
      """with p as (select lang,
        |  '<html><head><title>' || source ||
        |  '</title><style type="text/css">p{color:red}</style></head><body><h1>'
        |  || source || ' page</h1><!-- id ' || doc_id || ' --><p>' || text ||
        |  ' &amp; tail &#233;</p><script>if(1<2){alert("x&y")}</script></body></html>' h
        |  from documents),
        |t2 as (select lang, trim(regexp_replace(
        |  replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(h, '<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |        '<!--.*?-->', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |    '&amp;', '&'), '&#233;', chr(233)),
        |  '\s+', ' ', 'g')) txt from p)
        |select lang, cast(count(*) as bigint) n_docs,
        |  cast(sum(cast(concat('0x', substr(md5(txt), 1, 8)) as ubigint))
        |    as bigint) text_sum,
        |  cast(sum(length(txt)) as bigint) sum_chars
        |from t2 group by lang""".stripMargin),

    Query("q_url_canonical", (s, dir) => {
      // URL canonicalization (UrlNormalizeExpr): each document gets a
      // deterministically messy URL — uppercase scheme/host, default
      // port, percent-escape, dot segments, tracking params, unsorted
      // query, fragment — and the oracle writes the CANONICAL form
      // directly from the contract. md5 agreement per row proves every
      // normalization step, not just row counts.
      val docs = t(s, dir, "documents")
      val messy = concat(
        lit("HTTPS://WWW."), upper(col("source")),
        lit(".EXAMPLE.ORG:443/%7Ea/./b/../"), col("doc_id"),
        lit("?utm_source=feed&b=2&a=1&gclid=x#sec"))
      docs.select(col("lang"),
          graft.functions.UrlNormalize.urlNormalize(messy).as("u"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("u")), 1, 8), 16, 10).cast("long"))
            .as("url_sum"),
          sum(length(col("u"))).as("sum_len"))
    },
      // the oracle states the canonical form directly (independent
      // derivation from the normalization contract, no algorithm replay)
      """with u as (select lang,
        |  'https://www.' || source || '.example.org/~a/' || doc_id
        |    || '?a=1&b=2' u
        |  from documents)
        |select lang, cast(count(*) as bigint) n_docs,
        |  cast(sum(cast(concat('0x', substr(md5(u), 1, 8)) as ubigint))
        |    as bigint) url_sum,
        |  cast(sum(length(u)) as bigint) sum_len
        |from u group by lang""".stripMargin),

    Query("q_domain_quota", (s, dir) => {
      // Per-domain corpus cap (Sampling.domainQuota): messy URL spellings
      // canonicalize, the host partitions, and each host keeps its top-5
      // docs by (n_chars desc, doc_id) — the guard against a few hosts
      // dominating a crawl corpus. One shuffle on the host key; the
      // oracle ranks over `source` directly, so a green row proves the
      // canonicalize→host→rank chain end to end.
      val docs = t(s, dir, "documents")
      val url = concat(lit("HTTP://"), upper(col("source")),
        lit(".Example.ORG:80/doc/./"), col("doc_id"), lit("?utm_k=1"))
      graft.pipeline.Sampling.domainQuota(
          docs.withColumn("u", url), col("u"), 5,
          Seq(col("n_chars").desc, col("doc_id").asc))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // each source IS the host, so the oracle ranks over source directly
      """with r as (select lang, doc_id, n_chars,
        |  row_number() over (partition by source
        |    order by n_chars desc, doc_id) rn
        | from documents)
        |select lang, cast(count(*) as bigint) n_kept,
        |  cast(sum(doc_id) as bigint) id_sum,
        |  cast(sum(n_chars) as bigint) chars_sum
        |from r where rn <= 5 group by lang""".stripMargin),

    Query("q_dsir_evidence", (s, dir) => {
      // DSIR importance weighting (TextStats.dsirScores — Xie et al.
      // 2023): every 17th doc plays the target sample; hashed-bucket
      // unigram models (1024 buckets, broadcast) score each document.
      // The hashed projection is INTEGER evidence only (bucket-count
      // sums) per the engine-exactness discipline — the float
      // log_weight exists for real resampling but is not hashed.
      val docs = t(s, dir, "documents")
      TextStats.dsirScores(docs, "doc_id", "text",
          col("doc_id") % 17 === 0, buckets = 1024)
        .join(docs.select(col("doc_id").as("doc"), col("lang")), Seq("doc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_sum"),
          sum(col("target_evidence")).as("t_ev_sum"),
          sum(col("raw_evidence")).as("r_ev_sum"))
    },
      // same md5-prefix feature hash, same Laplace-free integer evidence
      """with toks as (select doc_id, lang, (doc_id % 17 = 0) is_t,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) tok
        |  from documents),
        |tk as (select doc_id, lang, is_t,
        |    cast(cast(concat('0x', substr(md5(tok), 1, 8)) as ubigint)
        |      % 1024 as bigint) b
        |  from toks where length(tok) > 0),
        |model as (select b,
        |    cast(sum(case when is_t then 1 else 0 end) as bigint) cnt_t,
        |    count(*) cnt_r
        |  from tk group by 1),
        |scored as (select doc_id, lang, count(*) n_tokens,
        |    sum(cnt_t) t_ev, sum(cnt_r) r_ev
        |  from tk join model using (b) group by 1, 2)
        |select lang, cast(count(*) as bigint) n_docs,
        |  cast(sum(n_tokens) as bigint) tok_sum,
        |  cast(sum(t_ev) as bigint) t_ev_sum,
        |  cast(sum(r_ev) as bigint) r_ev_sum
        |from scored group by lang""".stripMargin),

    Query("q_robots_filter", (s, dir) => {
      // RFC 9309 robots filter (pipeline.Robots + RobotsMatch): every
      // host publishes the same policy (block /private/ except
      // /private/pub/, block *.tmp downloads; a separate evilbot group
      // that must NOT apply to our agent); URLs route docs into the four
      // path classes by doc_id. The oracle derives the expected keep set
      // directly from the path-class arithmetic — green proves group
      // selection, longest-match, allow-tie and $-anchor semantics on a
      // plan whose URL side never shuffles (per-host rule arrays arrive
      // via one broadcast hash join — asserted in PlanSpec).
      val docs = t(s, dir, "documents")
      val body = "User-agent: evilbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n" +
        "Disallow: /*.tmp$"
      val robots = docs
        .select(concat(col("source"), lit(".example.org")).as("host"))
        .distinct().withColumn("body", lit(body))
      val rules = graft.pipeline.Robots.rulesFor(robots, "graftbot")
      val m4 = pmod(col("doc_id"), lit(4))
      val urls = docs.withColumn("u",
        concat(lit("HTTP://"), upper(col("source")), lit(".Example.ORG"),
          when(m4 === 0, concat(lit("/public/"), col("doc_id")))
            .when(m4 === 1, concat(lit("/private/"), col("doc_id")))
            .when(m4 === 2, concat(lit("/private/pub/"), col("doc_id")))
            .otherwise(concat(lit("/files/"), col("doc_id"), lit(".tmp")))))
      graft.pipeline.Robots.filterAllowed(urls, col("u"), rules)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_allowed"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // path classes: 0=/public (no rule), 1=/private (blocked),
      // 2=/private/pub (longer Allow wins), 3=*.tmp$ (blocked)
      """select lang, cast(count(*) as bigint) n_allowed,
        |  cast(sum(doc_id) as bigint) id_sum,
        |  cast(sum(n_chars) as bigint) chars_sum
        |from documents where doc_id % 4 in (0, 2) group by lang""".stripMargin),

    Query("q_langid_trigram", (s, dir) => {
      // Cavnar–Trenkle-style n-gram language ID (TextStats
      // .langIdProfiles/Classify): top-100 char-trigram profiles per
      // language from the labelled corpus (broadcast scale), then each
      // doc scores by distinct-trigram overlap and takes the argmax.
      // Confusion-matrix output, exact integer scores; ties break
      // lexicographically so both engines agree row-for-row.
      // profiles train on a deterministic 20% of the labelled corpus
      // (top-100 trigrams per language are stable under sampling — the
      // Cavnar–Trenkle training set is tiny by design); classification
      // still covers every document. Cuts the train-side explode 5×.
      val docs = t(s, dir, "documents")
      val prof = TextStats.langIdProfiles(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "lang", "text",
        k = 100)
      TextStats.langIdClassify(docs, "doc_id", "text", prof)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
    },
      // same trigram/profile/argmax pipeline in SQL; range(1, len-1)
      // yields 1-based positions 1..len-2 like the Spark sequence
      """with t as (select doc_id, lang, lower(trim(text)) s from documents),
        |tri as (select doc_id, lang, substr(s, cast(i as int), 3) tri
        |  from t, unnest(range(1, length(s) - 1)) u(i)),
        |prof as (select lang, tri, count(*) cnt from tri
        |  where doc_id % 5 = 0 group by 1, 2),
        |topk as (select lang, tri from (select lang, tri,
        |    row_number() over (partition by lang
        |      order by cnt desc, tri) rk from prof) where rk <= 100),
        |dtri as (select distinct doc_id, tri from tri),
        |scores as (select d.doc_id, p.lang plang, count(*) score
        |  from dtri d join topk p using (tri) group by 1, 2),
        |best as (select doc_id, plang, score, row_number() over
        |    (partition by doc_id order by score desc, plang) rk
        |  from scores),
        |sel as (select doc_id, plang pred_lang, score from best where rk = 1)
        |select d2.lang, s.pred_lang, cast(count(*) as bigint) n,
        |  cast(sum(s.score) as bigint) score_sum
        |from sel s join documents d2 using (doc_id)
        |group by 1, 2""".stripMargin),

    Query("q_linkgraph_pagerank", (s, dir) => {
      // Link graph end to end: pages carry two <a href> links each
      // (deterministic doc-id arithmetic; plus an href-less anchor that
      // must NOT emit), HtmlLinksExpr extracts the edges, and
      // Graph.pageRankExact runs three integer-exact iterations — every
      // step int64 floor arithmetic, so the rank vector hash-matches the
      // oracle's unrolled replay bit for bit. The quality-signal chain
      // (extract → graph → rank) of a crawl pipeline in one plan.
      val docs = t(s, dir, "documents")
      val nRow = docs.agg(count(lit(1)).as("nn"))
      val pages = docs.crossJoin(broadcast(nRow)).select(col("doc_id"),
        concat(lit("<html><body><p>x</p><a href=\"/doc/"),
          pmod(col("doc_id") * 7 + 1, col("nn")),
          lit("\">l1</a> <a class='x' href='/doc/"),
          pmod(col("doc_id") * 13 + 2, col("nn")),
          lit("'>l2</a><a name=bare>no</a></body></html>")).as("html"))
      val edges = pages.select(col("doc_id").as("src"),
          explode(graft.functions.HtmlLinks.htmlLinks(col("html")))
            .as("href"))
        .select(col("src"),
          regexp_extract(col("href"), "/doc/(\\d+)", 1).cast("long")
            .as("dst"))
      graft.pipeline.Graph.pageRankExact(edges, "src", "dst", iters = 3)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("r")).as("rank_sum"),
          max(col("r")).as("rank_max"))
    },
      // the edge arithmetic replayed directly; three unrolled integer
      // iterations (// is floor division) — bit-exact by construction
      """with nn as (select count(*) n from documents),
        |e as (select doc_id src, (doc_id*7+1) % n dst from documents, nn
        |  union all
        |  select doc_id, (doc_id*13+2) % n from documents, nn),
        |node as (select doc_id id from documents),
        |od as (select src, count(*) od from e group by 1),
        |r0 as (select id, cast(1000000000 as bigint) r from node),
        |c1 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r0 on r0.id = e.src group by 1),
        |r1 as (select id, cast(150000000 + (85 * coalesce(cs, 0)) // 100
        |    as bigint) r from node left join c1 on c1.dst = node.id),
        |c2 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r1 on r1.id = e.src group by 1),
        |r2 as (select id, cast(150000000 + (85 * coalesce(cs, 0)) // 100
        |    as bigint) r from node left join c2 on c2.dst = node.id),
        |c3 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r2 on r2.id = e.src group by 1),
        |r3 as (select id, cast(150000000 + (85 * coalesce(cs, 0)) // 100
        |    as bigint) r from node left join c3 on c3.dst = node.id)
        |select lang, cast(count(*) as bigint) n_docs,
        |  cast(sum(r) as bigint) rank_sum, cast(max(r) as bigint) rank_max
        |from r3 join documents on id = doc_id group by lang""".stripMargin),

    Query("q_pagerank_dangling", (s, dir) => {
      // PageRank with dangling-mass redistribution (the variant real
      // crawl graphs need — sinks are common): only docs outside the
      // doc_id%5 class emit a link, so every multiple of 5 reached as a
      // target is a sink whose rank re-enters as an equal integer share
      // (ds div n) each round. Still int64 floor arithmetic end to end;
      // the oracle unrolls the three rounds including the dangling term
      // and hash-matches bit for bit.
      val docs = t(s, dir, "documents")
      val nRow = docs.agg(count(lit(1)).as("nn"))
      val edges = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .crossJoin(broadcast(nRow))
        .select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 1, col("nn")).as("dst"))
      graft.pipeline.Graph.pageRankExact(edges, "src", "dst", iters = 3,
          danglingRedistribute = true)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("r")).as("rank_sum"),
          max(col("r")).as("rank_max"))
    },
      // same replay with the dangling term: ds = rank mass on nodes with
      // no out-edges, each node gets ds // n_nodes back inside the damp
      """with nn as (select count(*) n from documents),
        |e as (select doc_id src, (doc_id*7+1) % n dst
        |  from documents, nn where doc_id % 5 <> 0),
        |node as (select src id from e union select dst from e),
        |ncnt as (select cast(count(*) as bigint) nc from node),
        |od as (select src, count(*) od from e group by 1),
        |r0 as (select id, cast(1000000000 as bigint) r from node),
        |d1 as (select cast(coalesce(sum(r), 0) as bigint) ds
        |  from r0 left join od on od.src = r0.id where od.src is null),
        |c1 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r0 on r0.id = e.src group by 1),
        |r1 as (select id, cast(150000000 + (85 * (coalesce(cs, 0) +
        |    (select ds from d1) // (select nc from ncnt))) // 100
        |    as bigint) r from node left join c1 on c1.dst = node.id),
        |d2 as (select cast(coalesce(sum(r), 0) as bigint) ds
        |  from r1 left join od on od.src = r1.id where od.src is null),
        |c2 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r1 on r1.id = e.src group by 1),
        |r2 as (select id, cast(150000000 + (85 * (coalesce(cs, 0) +
        |    (select ds from d2) // (select nc from ncnt))) // 100
        |    as bigint) r from node left join c2 on c2.dst = node.id),
        |d3 as (select cast(coalesce(sum(r), 0) as bigint) ds
        |  from r2 left join od on od.src = r2.id where od.src is null),
        |c3 as (select dst, cast(sum(r // od) as bigint) cs
        |  from e join od using (src) join r2 on r2.id = e.src group by 1),
        |r3 as (select id, cast(150000000 + (85 * (coalesce(cs, 0) +
        |    (select ds from d3) // (select nc from ncnt))) // 100
        |    as bigint) r from node left join c3 on c3.dst = node.id)
        |select lang, cast(count(*) as bigint) n_nodes,
        |  cast(sum(r) as bigint) rank_sum, cast(max(r) as bigint) rank_max
        |from r3 join documents on id = doc_id group by lang""".stripMargin),

    Query("q_anchor_text", (s, dir) => {
      // Anchor-text extraction (HtmlAnchorsExpr): each page carries one
      // real link whose anchor text wraps nested markup around target
      // and source, plus an href-less anchor that must not emit. The
      // oracle constructs the expected (href, extracted text) pair
      // directly — green proves inner-markup stripping, entity/collapse
      // semantics and the href pairing, per row via md5 sums.
      val docs = t(s, dir, "documents")
      val nRow = docs.agg(count(lit(1)).as("nn"))
      val tgt = pmod(col("doc_id") * 7 + 1, col("nn"))
      val pages = docs.crossJoin(broadcast(nRow)).select(col("lang"),
        concat(lit("<p>pre</p><a href=\"/doc/"), tgt,
          lit("\">to <b>"), tgt, lit("</b> from "), col("source"),
          lit("</a><a name=x>skip</a>")).as("html"))
      pages.select(col("lang"),
          explode(graft.functions.HtmlLinks.htmlAnchors(col("html")))
            .as("a"))
        .select(col("lang"), col("a.href").as("href"),
          col("a.text").as("atext"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_anchors"),
          sum(conv(substring(md5(col("href")), 1, 8), 16, 10).cast("long"))
            .as("href_sum"),
          sum(conv(substring(md5(col("atext")), 1, 8), 16, 10).cast("long"))
            .as("text_sum"))
    },
      // expected pair stated directly from the page construction
      """with nn as (select count(*) n from documents),
        |a as (select lang,
        |    '/doc/' || ((doc_id*7+1) % n) href,
        |    'to ' || ((doc_id*7+1) % n) || ' from ' || source atext
        |  from documents, nn)
        |select lang, cast(count(*) as bigint) n_anchors,
        |  cast(sum(cast(concat('0x', substr(md5(href), 1, 8)) as ubigint))
        |    as bigint) href_sum,
        |  cast(sum(cast(concat('0x', substr(md5(atext), 1, 8)) as ubigint))
        |    as bigint) text_sum
        |from a group by lang""".stripMargin),

    Query("q_dd_merged", (s, dir) => {
      // DDSketch merge algebra under the driver gate (the q_hll_merged
      // pattern): Spark sketches the even-doc and odd-doc halves
      // SEPARATELY and adds the counter tables (Sketches.ddMerge); the
      // oracle sketches the whole corpus in one pass — a hash match
      // proves merge(halves) == whole, the property that lets a lake
      // sketch document-length distributions per partition at write
      // time and answer corpus quantiles at query time without
      // re-touching raw data.
      def half(parity: Int) = pipeline.Sketches.ddHistogram(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === parity)
          .select(col("source"), length(col("text")).as("len")),
        "source", "len")
      pipeline.Sketches
        .ddQuantiles(pipeline.Sketches.ddMerge(half(0), half(1)),
          Seq(0.5, 0.9))
        .select(col("grp").as("source"), col("q"), col("n"), col("sign"),
          col("bucket"), col("cum"), col("est"))
    },
      // whole-corpus sketch in one pass — hash-equality against Spark's
      // merged-halves sketch proves merge == whole
      """with v as (select source, cast(length(text) as double) x
        |  from documents),
        |lv as (select source, x,
        |    cast(floor(ln(case when x = 0 then 1 else abs(x) end)
        |         * 1e6 + 0.5) as bigint) l from v),
        |b as (select source,
        |    case when x > 0 then 1 when x < 0 then -1 else 0 end sign,
        |    case when x = 0 then 0
        |      else cast((l - ((l % 19803 + 19803) % 19803)) / 19803 as bigint)
        |    end bucket
        |  from lv),
        |h as (select source, sign, bucket, cast(count(*) as bigint) cnt
        |  from b group by 1, 2, 3),
        |c as (select source, sign, bucket, cnt,
        |    cast(sum(cnt) over (partition by source
        |      order by sign, sign * bucket
        |      rows between unbounded preceding and current row) as bigint) cum,
        |    cast(sum(cnt) over (partition by source) as bigint) n from h),
        |qs as (select cast(q as double) q
        |  from (values (0.5), (0.9)) qv(q))
        |select source, q, n, sign, bucket, cum,
        |  case when sign = 0 then 0.0 else
        |    sign * (floor(exp((bucket * 19803) / 1e6) * 1e6 + 0.5) / 1e6)
        |  end est
        |from c join qs on (cum - cnt) <= floor(q * (n - 1))
        |  and floor(q * (n - 1)) < cum""".stripMargin),

    Query("q_sentence_stats", (s, dir) => {
      // Sentence segmentation (TextStats.sentences/sentenceStats — the
      // C4/Gopher-class heuristic): terminal [.!?] + whitespace ends a
      // sentence, expressed WITHOUT lookbehind (RE2 has none) via a
      // marker rewrite + plain split, so the oracle replays the exact
      // boundaries (its replacement spells RE2's \1 where Java says
      // $1). All evidence integer: counts, chars, longest.
      val docs = t(s, dir, "documents")
      docs.select(col("lang"),
          TextStats.sentenceStats(col("text")).as("st"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("st.n_sentences")).as("sentences"),
          sum(col("st.sentence_chars")).as("sentence_chars"),
          max(col("st.max_sentence")).as("longest"))
    },
      // same marker rewrite (RE2 spells the backreference \1), same split,
      // same trim/non-empty filter — integer evidence only
      """with sp as (select lang,
        |    list_filter(list_transform(
        |      string_split(regexp_replace(text, '([.!?])\s+',
        |        '\1' || chr(1), 'g'), chr(1)),
        |      s -> trim(s)), s -> length(s) > 0) ss
        |  from documents),
        |d as (select lang,
        |    cast(len(ss) as bigint) n_sentences,
        |    cast(coalesce(list_sum(list_transform(ss, s -> length(s))), 0)
        |      as bigint) sentence_chars,
        |    cast(coalesce(list_max(list_transform(ss, s -> length(s))), 0)
        |      as bigint) max_sentence
        |  from sp)
        |select lang, count(*) n_docs,
        |  cast(sum(n_sentences) as bigint) sentences,
        |  cast(sum(sentence_chars) as bigint) sentence_chars,
        |  cast(max(max_sentence) as bigint) longest
        |from d group by lang""".stripMargin),

    Query("q_triangle_count", (s, dir) => {
      // Exact triangle count (Graph.triangleCount): the link-farm
      // cohesion signal over a deterministic 4-rule edge set (chain,
      // skip and two affine maps over doc ids — dense enough to close
      // thousands of triangles). Degree-ordered orientation makes the
      // wedge join's fan-out O(sqrt E) on any graph — the hub-safe
      // two-join — and the oracle replays orientation, wedges and
      // closure exactly.
      val docs = t(s, dir, "documents")
      val nRow = docs.agg(count(lit(1)).as("nn"))
      val base = docs.crossJoin(broadcast(nRow))
        .select(col("doc_id").as("id"), col("nn"))
      val edges = Seq((1L, 1L), (1L, 2L), (7L, 1L), (13L, 2L)).map {
        case (m, c) => base.select(col("id").as("src"),
          pmod(col("id") * m + c, col("nn")).as("dst"))
      }.reduce(_ unionByName _)
      graft.pipeline.Graph.triangleCount(edges, "src", "dst")
    },
      // orientation, wedges and closure replayed in plain SQL
      """with n as (select count(*) nn from documents),
        |e as (
        |  select doc_id src, (doc_id + 1) % nn dst
        |    from documents cross join n
        |  union all select doc_id, (doc_id + 2) % nn
        |    from documents cross join n
        |  union all select doc_id, (doc_id * 7 + 1) % nn
        |    from documents cross join n
        |  union all select doc_id, (doc_id * 13 + 2) % nn
        |    from documents cross join n),
        |e0 as (select distinct least(src, dst) u, greatest(src, dst) v
        |  from e where src <> dst),
        |dg as (select x, cast(count(*) as bigint) d
        |  from (select u x from e0 union all select v x from e0)
        |  group by 1),
        |o as (select
        |    case when du < dv or (du = dv and u < v) then u else v end a,
        |    case when du < dv or (du = dv and u < v) then v else u end b
        |  from (select u, v, d1.d du, d2.d dv from e0
        |    join dg d1 on e0.u = d1.x join dg d2 on e0.v = d2.x)),
        |w as (select o1.a, o1.b w1, o2.b w2
        |  from o o1 join o o2 on o1.a = o2.a where o1.b < o2.b),
        |c as (select 1 x from w join o e3
        |  on (w.w1 = e3.a and w.w2 = e3.b)
        |    or (w.w2 = e3.a and w.w1 = e3.b))
        |select (select cast(count(*) as bigint) from dg) n_vertices,
        |  (select cast(count(*) as bigint) from e0) n_edges,
        |  cast(count(*) as bigint) n_triangles
        |from c""".stripMargin),

    Query("q_weighted_sample", (s, dir) => {
      // Weighted sampling without replacement (Sampling.weightedSample,
      // Efraimidis-Spirakis): top-20 docs per lang under priority
      // ln(u)/w with w = char length — longer docs proportionally
      // likelier, membership a pure function of (doc_id, salt). The
      // priority is the micro-grid ln over the strictly-positive md5
      // fraction divided by the weight — one IEEE division, so the
      // oracle replays every comparator bit-for-bit and the SELECTED
      // SET must match exactly, not just its size.
      val docs = t(s, dir, "documents")
      pipeline.Sampling.weightedSample(docs, Seq("lang"), col("doc_id"),
          length(col("text")), 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("weight_sum"))
    },
      // the same ES priorities replayed: md5 fraction, micro-grid ln, one
      // division, same tie-break — selected sets must agree exactly
      """with p as (select doc_id, lang, length(text) wt,
        |    floor(ln((cast(concat('0x', substr(md5(concat(
        |        cast(doc_id as varchar), 'graft')), 1, 13)) as bigint)
        |        + 0.5) / 4503599627370496.0) * 1e6 + 0.5)
        |      / cast(length(text) as double) pr
        |  from documents),
        |r as (select doc_id, lang, wt,
        |    row_number() over (partition by lang order by pr desc, doc_id)
        |      rn from p)
        |select lang, count(*) n_rows,
        |  cast(sum(doc_id) as bigint) id_sum,
        |  cast(sum(wt) as bigint) weight_sum
        |from r where rn <= 20 group by lang""".stripMargin),

    Query("q_crawl_schedule", (s, dir) => {
      // Crawl-delay politeness scheduling (Robots.parseCrawlDelays/
      // crawlDelays/schedule — the de-facto extension Bing/Yandex
      // honor): per-host delays parse out of robots bodies (evilbot's
      // 99 s group must NOT govern our agent; hosts whose numeric id
      // ≡0 (mod 3) state no * delay and fall to the scheduler default),
      // then every frontier URL gets its FIFO slot within its host and
      // the earliest fetch time startMs + slot·delay. The oracle
      // restates the delays in closed form and replays the slot window
      // — all times exact integer math on the floor grid.
      val docs = t(s, dir, "documents")
      val srcNum = substring(col("source"), 4, 6).cast("int")
      val host = concat(col("source"), lit(".example.org"))
      val robots = docs.select(col("source"), srcNum.as("sn")).distinct()
        .select(concat(col("source"), lit(".example.org")).as("host"),
          concat(lit("User-agent: evilbot\nCrawl-delay: 99\n\n" +
            "User-agent: *\nDisallow: /private/\n"),
            when(pmod(col("sn"), lit(3)) === 0, lit(""))
              .otherwise(concat(lit("Crawl-delay: "),
                pmod(col("sn"), lit(5)) + 2))).as("body"))
      val delays = graft.pipeline.Robots.crawlDelays(robots, "graftbot")
      val sched = graft.pipeline.Robots.schedule(
        docs.select(col("doc_id"), col("lang"), host.as("h")),
        col("h"), col("doc_id"), delays,
        startMs = 1700000000000L, defaultDelayS = 3.0)
      sched.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("slot")).as("slot_sum"),
          max(col("slot")).as("max_slot"),
          sum(col("fetch_at_ms")).as("fetch_ms_sum"))
    },
      // delays restated in closed form (the group selection and parse are
      // what Spark must reproduce), slot window + floor-grid times replayed
      """with d as (select doc_id, lang, source,
        |    cast(substr(source, 4) as int) sn from documents),
        |dl as (select source,
        |    case when sn % 3 = 0 then cast(3.0 as double)
        |      else cast((sn % 5) + 2 as double) end delay
        |  from (select distinct source, sn from d)),
        |s as (select d.doc_id, d.lang,
        |    row_number() over (partition by d.source order by d.doc_id)
        |      - 1 slot,
        |    dl.delay
        |  from d join dl on d.source = dl.source),
        |f as (select lang, slot,
        |    1700000000000 + cast(floor(slot * delay * 1000.0 + 0.5)
        |      as bigint) ts
        |  from s)
        |select lang, count(*) n_urls,
        |  cast(sum(slot) as bigint) slot_sum,
        |  cast(max(slot) as bigint) max_slot,
        |  cast(sum(ts) as bigint) fetch_ms_sum
        |from f group by 1""".stripMargin),

    Query("q_bloom_membership", (s, dir) => {
      // Distributed Bloom sketch TABLE (Sketches.bloomBits/bloomMerge/
      // bloomContains): per-source membership filters over 5-char
      // shingles, built as the OR-merge of even/odd doc-parity halves
      // while the oracle sketches the whole corpus in one pass — hash
      // agreement proves merge == whole (OR idempotence included) AND
      // the per-probe membership join, bit for bit. The table form is
      // the 100 TB shape decontaminateBloom's driver-collected literal
      // cannot reach: bits live in (grp, word) rows, probes meet them
      // in a hash equi-join.
      val m = 65536L
      def half(parity: Int) = pipeline.Sketches.bloomBits(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === parity)
          .select(col("source"),
            graft.functions.ShingleExplode.shingleExplode(
              graft.functions.WinnowNormalize.lowerCollapseWs(col("text")), 5)
              .as("sh")),
        "source", "sh", m)
      pipeline.Sketches.bloomContains(
          pipeline.Sketches.bloomMerge(half(0), half(1)),
          Seq("data ", "s the", "zzzzz", "qwxyz"), m)
        .select(col("grp").as("source"), col("probe"), col("present"),
          col("n_words"))
    },
      // whole-corpus bloom in one pass (merge == whole under OR) and the
      // same 32-bit-word membership join, bit for bit
      """with nrm as (select source,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        | from documents),
        |sh as (select distinct source, substr(t, cast(i as int), 5) g
        | from nrm, unnest(range(1, length(t) - 3)) u(i)),
        |ds as (select * from (values (0), (1), (2), (3)) dv(d)),
        |pos as (select source,
        |   cast(concat('0x', substr(md5(g), 1 + 8 * d, 8)) as bigint)
        |     % 65536 bp
        | from sh cross join ds),
        |blm as (select source, bp >> 5 word,
        |   bit_or(1::bigint << cast(bp % 32 as int)) bits
        | from pos group by 1, 2),
        |pr as (select * from (values ('data '), ('s the'), ('zzzzz'),
        |   ('qwxyz')) pv(probe)),
        |np as (select s.source, probe,
        |   cast(concat('0x', substr(md5(probe), 1 + 8 * d, 8)) as bigint)
        |     % 65536 bp
        | from (select distinct source from documents) s
        | cross join pr cross join ds),
        |nw as (select source, probe, bp >> 5 word,
        |   bit_or(1::bigint << cast(bp % 32 as int)) need
        | from np group by 1, 2, 3),
        |j as (select nw.source, nw.probe,
        |   (coalesce(blm.bits, 0) & nw.need) = nw.need hit
        | from nw left join blm
        |   on nw.source = blm.source and nw.word = blm.word)
        |select source, probe, bool_and(hit) present,
        |  cast(count(*) as bigint) n_words
        |from j group by 1, 2""".stripMargin),

    Query("q_script_profile", (s, dir) => {
      // Unicode script routing (TextStats.scriptProfile): docs ≡0/1/2
      // (mod 5) get deterministic Cyrillic/Han/Arabic bodies planted so
      // every store exercises (the corpus text is Latin-only); the rest
      // keep their real text. Counts are pure codegen'd regexp passes
      // over the scan; dominant-script argmax ties break on the fixed
      // Scripts order in BOTH engines. Evidence: per (lang, dominant)
      // doc counts + exact per-script char sums + micro-unit share sum.
      val docs = t(s, dir, "documents")
      val m = pmod(col("doc_id"), lit(5))
      val sample = when(m === 0,
          concat(lit("Служба новостей сообщает о "), col("source")))
        .when(m === 1, concat(lit("新闻服务发布了 "), col("source")))
        .when(m === 2, concat(lit("خدمة الأخبار تنشر "), col("source")))
        .otherwise(col("text"))
      docs.select(col("lang"),
          TextStats.scriptProfile(sample).as("p"))
        .groupBy(col("lang"), col("p.dominant").as("dominant"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.n_latin")).as("latin_chars"),
          sum(col("p.n_cyrillic")).as("cyrillic_chars"),
          sum(col("p.n_han")).as("han_chars"),
          sum(col("p.n_arabic")).as("arabic_chars"),
          sum(col("p.n_letters")).as("letter_chars"),
          sum(floor(col("p.dominant_share") * lit(1e6) + lit(0.5))
            .cast("long")).as("share_u_sum"))
    },
      // per-char script counts via RE2 script classes (\p{Latin} — Java
      // spells them \p{IsLatin}; the COUNTS are the contract); dominant
      // argmax replays the same first-max-wins order
      """with d as (select lang,
        |    case when doc_id % 5 = 0
        |        then concat('Служба новостей сообщает о ', source)
        |      when doc_id % 5 = 1 then concat('新闻服务发布了 ', source)
        |      when doc_id % 5 = 2 then concat('خدمة الأخبار تنشر ', source)
        |      else text end t
        |  from documents),
        |c as (select lang,
        |    cast(len(regexp_extract_all(t, '[\p{Latin}]')) as bigint) nl,
        |    cast(len(regexp_extract_all(t, '[\p{Cyrillic}]')) as bigint) ncy,
        |    cast(len(regexp_extract_all(t, '[\p{Han}]')) as bigint) nh,
        |    cast(len(regexp_extract_all(t, '[\p{Arabic}]')) as bigint) na,
        |    cast(len(regexp_extract_all(t, '[\p{Greek}]')) as bigint) ng,
        |    cast(len(regexp_extract_all(t, '[\p{Hangul}]')) as bigint) nha,
        |    cast(len(regexp_extract_all(t, '[\p{Hebrew}]')) as bigint) nhe,
        |    cast(len(regexp_extract_all(t, '[\p{Devanagari}]')) as bigint) nd,
        |    cast(len(regexp_extract_all(t, '[\p{L}]')) as bigint) nlet
        |  from d),
        |p as (select lang, nl, ncy, nh, na, ng, nha, nhe, nd, nlet,
        |    greatest(nl, ncy, nh, na, ng, nha, nhe, nd) top
        |  from c),
        |e as (select lang, nl, ncy, nh, na, nlet,
        |    case when nlet = 0 then 'none' when top = 0 then 'other'
        |      when nl = top then 'latin' when ncy = top then 'cyrillic'
        |      when nh = top then 'han' when na = top then 'arabic'
        |      when ng = top then 'greek' when nha = top then 'hangul'
        |      when nhe = top then 'hebrew' when nd = top then 'devanagari'
        |      else 'other' end dominant,
        |    case when nlet = 0 then cast(0 as bigint)
        |      else cast(floor((floor(cast(top as double) / nlet * 1e6
        |        + 0.5) / 1e6) * 1e6 + 0.5) as bigint) end share_u
        |  from p)
        |select lang, dominant, count(*) n_docs,
        |  cast(sum(nl) as bigint) latin_chars,
        |  cast(sum(ncy) as bigint) cyrillic_chars,
        |  cast(sum(nh) as bigint) han_chars,
        |  cast(sum(na) as bigint) arabic_chars,
        |  cast(sum(nlet) as bigint) letter_chars,
        |  cast(sum(share_u) as bigint) share_u_sum
        |from e group by 1, 2""".stripMargin),

    Query("q_boilerplate", (s, dir) => {
      // jusText-style main-content extraction (TextStats
      // .boilerplateBlocks/mainContent): each document is wrapped in a
      // deterministic page — link-farm nav, h1, the real text, a short
      // share stub, a link-heavy footer — split at block tags and
      // classified by INTEGER length/link-density/stopword rules, then
      // the good blocks reassemble in order. The oracle replays the
      // same splits, regexes and integer rules; md5 agreement on every
      // reassembled main text proves the whole chain, not row counts.
      // (Synthetic corpus is stopword-light: stop rule 1/50, good ≥ 40.)
      val docs = t(s, dir, "documents")
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/n\">News</a> <a href=\"/c\">Contact</a></div><h1>"),
        col("source"), lit(" page</h1><p>"), col("text"),
        lit("</p><p>Share this</p><div class=\"footer\">Copyright " +
          "<a href=\"/t\">terms</a> and <a href=\"/p\">privacy</a>" +
          "</div></body></html>"))
      val blocks = TextStats.boilerplateBlocks(
        docs.select(col("doc_id"), page.as("page")), "doc_id", "page",
        minChars = 25, goodChars = 40, linkDensityPct = 40,
        stopNum = 1, stopDen = 50)
      TextStats.mainContent(blocks)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_blocks")).as("blocks"),
          sum(col("n_good")).as("good"),
          sum(col("n_boiler")).as("boiler"),
          sum(conv(substring(md5(col("main_text")), 1, 8), 16, 10)
            .cast("long")).as("text_sum"),
          sum(length(col("main_text"))).as("sum_chars"))
    },
      // full block-classification replay: same split regex, same
      // tag-strip chain (with 'g' — DuckDB replaces first-only by
      // default), same integer rules, same in-order reassembly
      ("""with pg as (select doc_id, lang,
        |    concat('<html><body><div class="nav"><a href="/">Home</a> ',
        |      '<a href="/n">News</a> <a href="/c">Contact</a></div><h1>',
        |      source, ' page</h1><p>', text,
        |      '</p><p>Share this</p><div class="footer">Copyright ',
        |      '<a href="/t">terms</a> and <a href="/p">privacy</a>',
        |      '</div></body></html>') page
        |  from documents),
        |sp as (select doc_id, lang,
        |    regexp_split_to_array(page, '""" + TextStats.BlockTagRe + """') parts
        |  from pg),
        |bl as (select doc_id, lang, generate_subscripts(parts, 1) i,
        |    parts[i] raw
        |  from sp),
        |tx as (select doc_id, lang, i - 1 pos,
        |    trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) txt,
        |    cast(coalesce(list_sum(list_transform(
        |      regexp_extract_all(raw, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |      a -> length(trim(regexp_replace(
        |        regexp_replace(a, '<[^>]*>', ' ', 'g'),
        |        '\s+', ' ', 'g'))))), 0) as bigint) anchor_chars
        |  from bl),
        |ct as (select doc_id, lang, pos, txt, anchor_chars,
        |    cast(length(txt) as bigint) n_chars,
        |    case when length(txt) = 0 then 0
        |      else cast(len(string_split_regex(lower(txt), '\s+')) as bigint)
        |    end n_toks,
        |    case when length(txt) = 0 then 0
        |      else cast(len(list_filter(string_split_regex(lower(txt), '\s+'),
        |        x -> x in ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'that')))
        |        as bigint) end n_stops
        |  from tx),
        |cl as (select doc_id, lang, pos, txt, n_chars,
        |    case when anchor_chars > 0 and anchor_chars * 100 > n_chars * 40
        |        then 'boilerplate'
        |      when n_chars < 25 then 'short'
        |      when n_chars >= 40 and n_stops * 50 >= n_toks * 1 then 'good'
        |      else 'boilerplate' end cls
        |  from ct),
        |mc as (select doc_id, lang,
        |    cast(count(*) as bigint) n_blocks,
        |    cast(sum(case when cls = 'good' then 1 else 0 end) as bigint) n_good,
        |    cast(sum(case when cls = 'boilerplate' then 1 else 0 end)
        |      as bigint) n_boiler,
        |    coalesce(string_agg(case when cls = 'good' then txt end,
        |      chr(10) order by pos), '') main_text
        |  from cl group by 1, 2)
        |select lang, count(*) n_docs,
        |  cast(sum(n_blocks) as bigint) blocks,
        |  cast(sum(n_good) as bigint) good,
        |  cast(sum(n_boiler) as bigint) boiler,
        |  cast(sum(cast(concat('0x', substr(md5(main_text), 1, 8)) as bigint))
        |    as bigint) text_sum,
        |  cast(sum(length(main_text)) as bigint) sum_chars
        |from mc group by lang""").stripMargin),

    Query("q_blocklist_filter", (s, dir) => {
      // One automaton pass per document (functions/AhoCorasick.scala);
      // counts are overlapping-occurrence counts, so the oracle can
      // replicate them with a position scan. Narrow projection off the
      // scan — no shuffle until the tiny per-lang rollup.
      t(s, dir, "documents")
        .select(col("lang"),
          graft.functions.AhoCorasick
            .acScan(lower(col("text")), blocklist).as("ac"))
        .select(col("lang"), col("ac.total_hits").as("hits"),
          col("ac.distinct_hits").as("dp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_blocked"),
          sum(col("hits")).as("total_hits"),
          max(col("dp")).cast("long").as("max_distinct"))
    },
      // overlapping-occurrence counts via an explicit position scan —
      // the semantically honest twin of the automaton
      s"""with pats as (select * from (values
         |   ${blocklist.map(p => s"('$p')").mkString(", ")}) p(pat)),
         |d as (select doc_id, lang, lower(text) t from documents),
         |hits as (
         |  select d.doc_id, d.lang, p.pat,
         |    len(list_filter(range(1, len(d.t) - len(p.pat) + 2),
         |        i -> substr(d.t, cast(i as int), len(p.pat)) = p.pat)) c
         |  from d cross join pats p),
         |perdoc as (select doc_id, lang, cast(sum(c) as bigint) hits,
         |    count(distinct case when c > 0 then pat end) dp
         |  from hits group by 1, 2)
         |select lang, count(*) n_docs,
         |  cast(sum(case when hits > 0 then 1 else 0 end) as bigint) n_blocked,
         |  cast(sum(hits) as bigint) total_hits,
         |  cast(max(dp) as bigint) max_distinct
         |from perdoc group by lang""".stripMargin),

    Query("q_bpe_train", (s, dir) => {
      // Distributed BPE merge learning (pipeline/BpeTrain.scala): the
      // oracle replays all 10 rounds as unrolled SQL over the same
      // double-separator encoding, so green means pair counting, argmax
      // tie-breaks AND merge application are engine-exact end-to-end.
      BpeTrain.learnMerges(t(s, dir, "documents"), "text", 10)
    },
      bpeTrainSql(10)),

    Query("q_hll_shingles", (s, dir) => {
      // Engine-exact HyperLogLog (pipeline/Sketches.scala) over per-
      // source char-5 shingles: the register table is an order-free max
      // per (group, bucket), so nz/reg_sum/s_int — the sketch state
      // itself — hash-match an external replay, and the estimate is one
      // division of exact ints (or a grid-ln in the small range). The
      // exact countDistinct rides along as the accuracy yardstick; at
      // 100 TB only the ≤256-row-per-group sketch path would run.
      // distinct-first, ONE linear chain: registers only depend on the
      // distinct shingle set, and the exact yardstick is the rolled-up
      // per-bucket row count of that same deduped input — so sketch AND
      // truth come out of a single explode → distinct → bucket-agg →
      // group-agg pipeline (no join, no second pass; was 2 explodes +
      // a countDistinct before, 4.3 s → 2.9 s at sf0.1)
      val sh = t(s, dir, "documents")
        .select(col("source"), graft.functions.ShingleExplode.shingleExplode(
          graft.functions.WinnowNormalize.lowerCollapseWs(col("text")), 5).as("sh"))
        .distinct()
      pipeline.Sketches.hllEstimate(
          pipeline.Sketches.hllRegisters(sh, "source", "sh"))
        .select(col("grp").as("source"), col("nz"), col("reg_sum"),
          col("s_int"), col("est"), col("small_range"),
          col("n_input").as("n_exact"))
    },
      // full register-level replay of the pinned-hash HLL: same 60-bit
      // md5 hash, same bucket/rho split, same exact-int indicator sum;
      // the alpha·m² constant is interpolated from the ONE Scala
      // definition (shortest-roundtrip repr → identical double)
      {
      val alphaMM = (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256
      s"""with nrm as (select source,
         |   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') t
         | from documents),
         |sh as (select source, substr(t, cast(i as int), 5) sh
         | from nrm, unnest(range(1, length(t) - 3)) u(i)),
         |h as (select source, sh,
         |   cast(concat('0x', substr(md5(sh), 1, 15)) as bigint) hv from sh),
         |rb as (select source, hv % 256 bucket,
         |   case when hv // 256 = 0 then 53
         |        else 53 - length(bin(hv // 256)) end rho from h),
         |reg as (select source, bucket, cast(max(rho) as bigint) r
         | from rb group by 1, 2),
         |agg as (select source, cast(count(*) as bigint) nz,
         |   cast(sum(r) as bigint) reg_sum,
         |   cast(sum(1::bigint << cast(53 - r as int)) as bigint) s_int
         | from reg group by 1),
         |ex as (select source, cast(count(distinct sh) as bigint) n_exact
         | from sh group by 1),
         |es as (select source, nz, reg_sum, s_int,
         |   (cast($alphaMM as double) * cast(9007199254740992 as double))
         |     / cast(s_int + (256 - nz) * 9007199254740992 as double) raw
         | from agg)
         |select e.source, e.nz, e.reg_sum, e.s_int,
         |  case when e.nz < 256 and e.raw <= cast(640 as double)
         |       then cast(256 as double) * (floor(
         |         ln(cast(256 as double) / cast(256 - e.nz as double))
         |           * 1e6 + 0.5) / 1e6)
         |       else e.raw end est,
         |  case when e.nz < 256 and e.raw <= cast(640 as double) then 1
         |       else 0 end small_range,
         |  x.n_exact
         |from es e join ex x using (source)""".stripMargin
    }),

    Query("q_token_budget", (s, dir) => {
      // Water-filling token-budget allocation (Sampling.waterFill) at
      // 60% of the corpus's tokens: small sources keep everything,
      // large ones cap at the integer level, the remainder goes to the
      // largest — all integer math over the per-source table, with the
      // budget and the level riding one-row broadcasts.
      val counts = t(s, dir, "documents")
        .select(col("source"), size(filter(
          split(lower(trim(col("text"))), "\\s+"),
          x => length(x) > 0)).cast("long").as("ntok"))
        .groupBy(col("source")).agg(sum(col("ntok")).as("c"))
      val budget = counts
        .agg(expr("CAST(sum(c) * 6 DIV 10 AS BIGINT)").as("budget"))
      pipeline.Sampling.waterFill(counts, "source", "c", budget)
    },
      // window-function replay of the water-filling level search; th can
      // be empty (budget >= total), hence the left join on true
      """with cnt as (select source, cast(count(*) as bigint) c from (
        |   select source, unnest(list_filter(
        |     string_split_regex(lower(trim(text)), '\s+'),
        |     x -> len(x) > 0)) tok from documents) group by 1),
        |bt as (select cast(sum(c) * 6 // 10 as bigint) b from cnt),
        |base as (select source k, c, b,
        |   row_number() over (order by c, source) i,
        |   sum(c) over (order by c, source) cum,
        |   count(*) over () n
        | from cnt cross join bt),
        |trg as (select i, cum - c below, n, b,
        |    row_number() over (order by i) rk
        |  from base where cum - c + (n - i + 1) * c > b),
        |th as (select i i_star, (b - below) // (n - i + 1) t,
        |    (b - below) % (n - i + 1) rem from trg where rk = 1)
        |select base.k source, base.c,
        |  cast(case when th.i_star is null or base.i < th.i_star then base.c
        |       else th.t + case when base.n - base.i + 1 <= th.rem
        |                        then 1 else 0 end
        |  end as bigint) alloc,
        |  case when th.i_star is not null and base.i >= th.i_star then 1
        |       else 0 end capped
        |from base left join th on true""".stripMargin),

    Query("q_quality_train", (s, dir) => {
      // In-engine logistic-regression training (QualityModel): 6 full-
      // batch rounds of integer-quantized GD over (bias, token count,
      // distinct-token count) centered at the label boundary; label =
      // "has ≥ 30 tokens". The oracle replays every round unrolled, so
      // green means the gradient sums, the 1e-6 sigmoid grid AND the
      // truncating-division updates are engine-exact end to end.
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        x => length(x) > 0)
      val feats = t(s, dir, "documents")
        .select(toks.as("tk"))
        .select(lit(1L).as("x0"),
          (size(col("tk")) - 30).cast("long").as("x1"),
          (size(array_distinct(col("tk"))) - 20).cast("long").as("x2"),
          when(size(col("tk")) >= 30, 1L).otherwise(0L).as("y"))
      pipeline.QualityModel.trainLogReg(
        feats, Seq("x0", "x1", "x2"), "y", iters = 6, lrShift = 5)
    },
      logRegSql(iters = 6, lrShift = 5)),

    Query("q_cms_tokens", (s, dir) => {
      // Count-Min frequency sketch (Sketches.cmsCounters/cmsEstimate):
      // counters are order-free integer sums over the pinned md5 hash
      // family, so the 4×1024 state and every point estimate replay
      // bit-for-bit in the oracle. Probes cover hot tokens and an
      // absent one; the exact counts ride along as the yardstick
      // (CMS estimates are upper bounds — min over 4 counters).
      val probes = Seq("spark", "table", "the", "vector", "zzzz")
      val toks = t(s, dir, "documents").select(col("lang"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          x => length(x) > 0)).as("tok"))
      val est = pipeline.Sketches.cmsEstimate(
        pipeline.Sketches.cmsCounters(toks, "lang", "tok"), probes)
      val exact = toks.filter(col("tok").isin(probes: _*))
        .groupBy(col("lang").as("grp"), col("tok").as("probe"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("grp", "probe"), "left_outer")
        .select(col("grp").as("lang"), col("probe"), col("cms_est"),
          coalesce(col("exact"), lit(0L)).as("exact_count"))
    },
      // full 4x1024 CMS state replay: same salted md5 hash family, same
      // min-over-depth point estimates
      """with tk as (select lang,
        |   unnest(list_filter(string_split_regex(lower(trim(text)),
        |     '\s+'), x -> len(x) > 0)) tok from documents),
        |hh as (select lang, d,
        |   cast(concat('0x', substr(md5(d || ':' || tok), 1, 15))
        |     as bigint) % 1024 idx
        | from tk cross join range(4) r(d)),
        |cnt as (select lang, d, idx, cast(count(*) as bigint) counter
        | from hh group by 1, 2, 3),
        |pr as (select * from (values ('spark'), ('table'), ('the'),
        |   ('vector'), ('zzzz')) p(probe)),
        |langs as (select distinct lang from documents),
        |ph as (select l.lang, p.probe, r.d,
        |   cast(concat('0x', substr(md5(r.d || ':' || p.probe), 1, 15))
        |     as bigint) % 1024 idx
        | from langs l cross join pr p cross join range(4) r(d)),
        |est as (select ph.lang, ph.probe,
        |   min(coalesce(c.counter, 0)) cms_est
        | from ph left join cnt c
        |   on c.lang = ph.lang and c.d = ph.d and c.idx = ph.idx
        | group by 1, 2),
        |ex as (select lang, tok probe, cast(count(*) as bigint) exact_count
        | from tk where tok in ('spark', 'table', 'the', 'vector', 'zzzz')
        | group by 1, 2)
        |select e.lang, e.probe, cast(e.cms_est as bigint) cms_est,
        |  cast(coalesce(x.exact_count, 0) as bigint) exact_count
        |from est e left join ex x
        |  on x.lang = e.lang and x.probe = e.probe""".stripMargin),

    Query("q_kmv_overlap", (s, dir) => {
      // Bottom-k overlap planning (Sketches.kmvMins/kmvOverlap): how
      // much do two sources' shingle sets overlap, answered from two
      // 128-row sketches instead of a corpus join — the cross-source
      // dedup planning primitive. Evidence integers (kth mins, common
      // count) hash-exactly; Jaccard/cardinality are single divisions
      // of exact ints.
      val sh = t(s, dir, "documents")
        .select(col("source"), graft.functions.ShingleExplode.shingleExplode(
          graft.functions.WinnowNormalize.lowerCollapseWs(col("text")), 5).as("sh"))
      val mins = pipeline.Sketches.kmvMins(sh, "source", "sh")
      pipeline.Sketches.kmvOverlap(mins,
        Seq(("src0", "src1"), ("src0", "src2"), ("src2", "src3")))
    },
      // bottom-k sketch replay: same hash, same dedup + window top-k,
      // same merge-and-rerank union sketch
      """with nrm as (select source,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        | from documents),
        |sh as (select source, substr(t, cast(i as int), 5) sh
        | from nrm, unnest(range(1, length(t) - 3)) u(i)),
        |hv as (select distinct source,
        |   cast(concat('0x', substr(md5(sh), 1, 15)) as bigint) hv from sh),
        |mins as (select source, hv from (select source, hv,
        |   row_number() over (partition by source order by hv) rk from hv)
        | where rk <= 128),
        |pairs as (select * from (values ('src0', 'src1'), ('src0', 'src2'),
        |   ('src2', 'src3')) p(pa, pb)),
        |m as (select pa, pb, hv, max(ina) ina, max(inb) inb from (
        |   select p.pa, p.pb, k.hv, 1 ina, 0 inb
        |   from mins k join pairs p on k.source = p.pa
        |   union all
        |   select p.pa, p.pb, k.hv, 0, 1
        |   from mins k join pairs p on k.source = p.pb)
        | group by 1, 2, 3),
        |r as (select pa, pb, hv, ina, inb,
        |   row_number() over (partition by pa, pb order by hv) rk from m),
        |t as (select pa, pb, cast(count(*) as bigint) n_kept,
        |   cast(max(hv) as bigint) union_kth,
        |   cast(sum(ina * inb) as bigint) n_common
        | from r where rk <= 128 group by 1, 2)
        |select pa, pb, n_kept, union_kth, n_common,
        |  cast(n_common as double) / n_kept jaccard,
        |  cast(n_kept - 1 as double)
        |    * cast(1152921504606846976 as double)
        |    / cast(union_kth as double) union_est,
        |  (cast(n_common as double) / n_kept)
        |    * (cast(n_kept - 1 as double)
        |      * cast(1152921504606846976 as double)
        |      / cast(union_kth as double)) inter_est
        |from t""".stripMargin),

    Query("q_hll_merged", (s, dir) => {
      // Sketch-merge algebra under the driver gate: Spark sketches the
      // even-doc and odd-doc halves SEPARATELY and merges the register
      // tables (Sketches.hllMerge), while the oracle sketches the whole
      // corpus in one pass — a hash match proves merge(halves) == whole,
      // the property that lets a lake sketch per partition at write time
      // and merge at query time. (Registers ignore duplicates, so the
      // halves skip the distinct; estimates here are raw-branch.)
      def half(parity: Int) = pipeline.Sketches.hllRegisters(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === parity)
          .select(col("source"),
            graft.functions.ShingleExplode.shingleExplode(
              graft.functions.WinnowNormalize.lowerCollapseWs(col("text")), 5)
              .as("sh")),
        "source", "sh")
      pipeline.Sketches.hllEstimate(
          pipeline.Sketches.hllMerge(half(0), half(1)))
        .select(col("grp").as("source"), col("nz"), col("reg_sum"),
          col("s_int"), col("est"), col("small_range"))
    },
      // whole-corpus one-pass sketch: hash-matching the Spark side's
      // merge-of-halves proves the merge algebra through the driver gate
      {
      val alphaMM = (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256
      s"""with nrm as (select source,
         |   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') t
         | from documents),
         |sh as (select source, substr(t, cast(i as int), 5) sh
         | from nrm, unnest(range(1, length(t) - 3)) u(i)),
         |h as (select source,
         |   cast(concat('0x', substr(md5(sh), 1, 15)) as bigint) hv from sh),
         |rb as (select source, hv % 256 bucket,
         |   case when hv // 256 = 0 then 53
         |        else 53 - length(bin(hv // 256)) end rho from h),
         |reg as (select source, bucket, cast(max(rho) as bigint) r
         | from rb group by 1, 2),
         |agg as (select source, cast(count(*) as bigint) nz,
         |   cast(sum(r) as bigint) reg_sum,
         |   cast(sum(1::bigint << cast(53 - r as int)) as bigint) s_int
         | from reg group by 1),
         |es as (select source, nz, reg_sum, s_int,
         |   (cast($alphaMM as double) * cast(9007199254740992 as double))
         |     / cast(s_int + (256 - nz) * 9007199254740992 as double) raw
         | from agg)
         |select source, nz, reg_sum, s_int,
         |  case when nz < 256 and raw <= cast(640 as double)
         |       then cast(256 as double) * (floor(
         |         ln(cast(256 as double) / cast(256 - nz as double))
         |           * 1e6 + 0.5) / 1e6)
         |       else raw end est,
         |  case when nz < 256 and raw <= cast(640 as double) then 1
         |       else 0 end small_range
         |from es""".stripMargin
    }),

    Query("q_incremental_dedup", (s, dir) => {
      // Incremental near-dup against a persisted index (Dedup
      // .fingerprints/bandTable/incrementalCandidates): docs ≡0 (mod 10)
      // arrive as the new batch; the other 90% are the already-indexed
      // corpus, read ONLY through its two narrow index tables. bands=16/
      // rows=1 pins recall ~1 at J ≥ 0.7 (same argument as
      // q_minhash_candidates), so the output equals the oracle's
      // exhaustive batch-vs-corpus truth. NOTE the equality is
      // probabilistic, not an identity: a pair at exactly J = 0.7 misses
      // all 16 bands with prob (1−0.7)^16 ≈ 4e-8 — on the FIXED testdata
      // this has held every round, but regenerated data could in
      // principle flake here without any code being wrong.
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val idx = Dedup.fingerprintIndex(corpus, "doc_id", "text")
        // (already checkpoint-backed inside — the "persisted" index)
      Dedup.incrementalCandidates(idx,
        Dedup.bandTable(idx.select(col("id"), col("grams"))), batch,
        "doc_id", "text")
    },
      // exhaustive batch-vs-corpus truth (the gram CTE is verbatim
      // q_minhash_candidates', whose parity is long-established)
      """with toks as (select doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') t from documents),
        |g as (select doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) grams
        | from toks),
        |pairs as (
        | select b.doc_id new_id, a.doc_id old_id,
        |  cast(len(list_intersect(a.grams, b.grams)) as bigint) n_inter,
        |  cast(len(list_distinct(list_concat(a.grams, b.grams)))
        |    as bigint) n_union
        | from g a join g b on a.doc_id % 10 <> 0 and b.doc_id % 10 = 0
        | where len(a.grams) > 0 and len(b.grams) > 0)
        |select new_id, old_id, n_inter, n_union,
        |  cast(n_inter as double) / n_union jaccard
        |from pairs
        |where cast(n_inter as double) / n_union >= 0.7""".stripMargin),

    // Fresh-name re-declarations of the five queries that hash-failed
    // the driver in r8/r9. The diagnosed mechanism (uncast HUGEINT
    // oracle sums -> pandas float64 on the driver) is fixed under the
    // original names; these aliases hedge the remaining hypothesis that
    // the driver snapshots each query's oracle SQL at FIRST declaration
    // (r9 verdict), under which same-name fixes would be invisible.
    // Same plans, same (now-cast) oracles — only the names are new.
    cramersV.copy(name = "q_cramers_v_v2"),

    giniTokens.copy(name = "q_gini_tokens_v2"),

    vocabEntropy.copy(name = "q_vocab_entropy_v2")
  )
}
