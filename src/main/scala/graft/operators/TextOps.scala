package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: token
  * counting, quality scoring, language ID, fingerprinting, shingling,
  * SimHash. All column-level (pure Catalyst expressions, no UDFs, no
  * shuffles by themselves) so they fuse into whole-stage codegen and
  * scale linearly with the scan — at 100 TB these run entirely map-side.
  *
  * Cross-engine determinism: everything is built from integer counts,
  * md5 hex strings, and IEEE double arithmetic on identical inputs, so
  * DuckDB oracle twins reproduce results bit-for-bit (no RNG — hash
  * "seeds" are string prefixes baked into the md5 input).
  */
object TextOps {

  /** Whitespace tokenization. The fixture corpus is single-space
    * separated (FIXTURES.md documents table); a production corpus would
    * pass a richer delimiter regex here. */
  def tokenize(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokenize(text))

  /** BPE-ish sub-token count: runs of letters, runs of digits, or single
    * other non-space chars — the shape of a byte-level BPE pre-tokenizer
    * split rule. Same regex dialect subset (character classes,
    * alternation) evaluates identically in Java regex and RE2/DuckDB. */
  val SubTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SubTokenPattern), lit(0)))

  /** Mean token length from character/token counts (no second pass). */
  def avgWordLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - (n - lit(1))).cast("double") / n
  }

  /** Tokens of `text` that appear in `words`. */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokenize(text), t => array_contains(lit(words.toArray), t)))

  // ------------------------------------------------------------- quality

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def stopwordCount(text: Column): Column = wordHits(text, EnglishStopwords)

  /** Heuristic quality score in [0,1]: stopword density + length +
    * word-shape, the standard cheap pre-filter before expensive model
    * scoring. Pure double arithmetic over integer counts. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / n
    val lenScore = least(lit(1.0), n / lit(50.0))
    val shape = greatest(lit(0.0),
      lit(1.0) - abs(avgWordLen(text) - lit(5.5)) / lit(5.5))
    lit(0.4) * stopRatio + lit(0.4) * lenScore + lit(0.2) * shape
  }

  /** Gopher-rule pass flags as one struct column (wl = mean-word-length
    * band, lo = length floor, so = distinct-stopword floor, ro =
    * repetition cap) — the SINGLE definition shared by the batch report
    * (`DocQueries.textGopherRules`) and the streaming admission gate
    * (`StreamOps.gateStream`), so the two sides cannot drift (the
    * scoreStream lesson, ADVICE r7). Every rule is integer arithmetic:
    * the word-length band compares total word chars against 3n/10n and
    * the repetition bound cross-multiplies — no float ever appears. */
  def gopherFlags(text: Column): Column = {
    val toks = tokenize(text)
    val n = size(toks)
    val wordChars = length(text) - (n - lit(1))
    val nDistinct = size(array_distinct(toks))
    val stopDistinct = size(filter(array_distinct(toks),
      t => array_contains(lit(EnglishStopwords.toArray), t)))
    struct(
      (wordChars >= n * lit(3) && wordChars <= n * lit(10)).as("wl"),
      (n >= lit(50)).as("lo"),
      (stopDistinct >= lit(2)).as("so"),
      ((n - nDistinct) * lit(5) <= n * lit(2)).as("ro"))
  }

  // ------------------------------------------------------------- lang id

  /** Stopword lists per language for the n-gram-free language-ID
    * heuristic. Overlapping function words (de/la/en) are deliberate —
    * scores just accumulate per language. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> EnglishStopwords,
    "es" -> Seq("el", "la", "de", "los", "las", "un", "una", "es", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "fr" -> Seq("le", "la", "les", "de", "des", "un", "une", "est", "et", "en"),
  )

  /** Predicted language = argmax of stopword hits, ties broken by the
    * fixed list order above; no hits at all → "und" (undetermined). */
  def langId(text: Column): Column = {
    val scores = LangStopwords.map { case (lang, words) =>
      lang -> wordHits(text, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, score), els) =>
      when(score === best && score > 0, lit(lang)).otherwise(els)
    }
  }

  // ----------------------------------------------------- corpus statistics

  /** Corpus word counts: explode tokens → hash-aggregate per word. The
    * canonical map-side-combine workload — the shuffle carries one row
    * per (word, partition), not per token. */
  def wordCounts(df: org.apache.spark.sql.DataFrame,
                 textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(tokenize(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"))

  /** TF-IDF per (doc, term): tf = in-doc occurrences, idf = ln(N/df)
    * with df = docs containing the term. Two aggregations + a join on
    * the term — NO forced broadcast: vocabulary size is unbounded on a
    * noisy corpus, so AQE decides (it broadcasts when dfreq is actually
    * small). All integer counts until the one final ln/multiply. */
  def tfIdf(df: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    // corpus size as a broadcast one-row aggregate cross-joined in: keeps
    // TF-IDF a SINGLE job (an eager df.count() here would be a second
    // full pass over the corpus just to bake N as a literal)
    val n = df.agg(count(lit(1)).as("corpus_n"))
    val tokens = df.select(col(idCol), explode(tokenize(col(textCol))).as("term"))
    val tf = tokens.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        col("tf").cast("double") *
          log(col("corpus_n").cast("double") / col("df").cast("double")))
      .drop("corpus_n")
  }

  // ------------------------------------------------------- fingerprints

  /** Exact-content fingerprint. */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Word n-gram shingles (with duplicates; `array_distinct` for set
    * semantics). Empty array when the doc has fewer than n tokens or is
    * null. Native one-pass expression (graft.functions.WordShingles):
    * the builtin `transform(sequence(...), i => concat_ws(" ",
    * slice(toks, i, n)))` form is output-identical but re-evaluates the
    * `split` inside the (CodegenFallback, interpreted) lambda once per
    * shingle index — O(tokens²) splitting per document, measured as the
    * dominant cost of every shingle pipeline at sf0.1. */
  def wordShingles(text: Column, n: Int): Column =
    coalesce(graft.functions.TextHashFunctions.wordShingles(text, n),
             array().cast("array<string>"))

  /** MinHash-style document fingerprint: lexicographic min of the md5s
    * of the doc's shingles. A 1-hash signature — [[Dedup]] extends this
    * to k seeded hashes for LSH. */
  def minShingleHash(text: Column, n: Int): Column =
    array_min(transform(wordShingles(text, n), s => md5(s.cast("binary"))))

  /** MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash
    * every 3-gram shingle, slide a window of `w` consecutive gram
    * hashes, and select each window's minimum (rightmost of equals) —
    * the guarantee: any shared substring of ≥ w+2 tokens yields at
    * least one shared fingerprint, at ~2/(w+1) density. The local
    * fingerprint set plagiarism/contamination scanners index.
    *
    * Shape: the argmin-per-window is ONE hash aggregation — each gram
    * fans out to the `w` windows it belongs to (explode by a w-length
    * literal sequence, an EQUI key, never a range join), and the
    * window's (min hash, rightmost pos) pair is folded into a single
    * BIGINT composite `h·2²⁰ + (2²⁰−1−pos)` so `min()` implements the
    * tie-break exactly. Full windows are exactly those with `w`
    * members (positions are contiguous), so no length join is needed.
    * Bounds: 40-bit gram hashes × 2²⁰ positions per document fit the
    * composite in 60 bits — widen to DECIMAL or a struct min beyond
    * ~10⁶ grams/doc, and a RUNTIME guard (`raise_error` on pos ≥ 2²⁰)
    * fails loudly instead of silently corrupting the argmin if a
    * future corpus ever exceeds the width budget (ADVICE r8).
    * Deterministic: seeded md5, no RNG; the DuckDB
    * twin replays the identical composite arithmetic. */
  def winnowedFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String,
                           w: Int = 4): org.apache.spark.sql.DataFrame = {
    val slots = 1L << 20
    val rawPos = (col("p0") + 1).cast("long")
    // pos feeds the composite through this guard, so it can't be pruned
    val safePos = when(rawPos < lit(slots), rawPos).otherwise(
      raise_error(concat(lit("winnowedFingerprints: document position "),
        rawPos.cast("string"),
        lit(s" exceeds the $slots composite width budget —"),
        lit(" widen the slot field"))).cast("long"))
    val grams = df.select(col(idCol),
        posexplode(wordShingles(col(textCol), 3)).as(Seq("p0", "sh")))
      .select(col(idCol), safePos.as("pos"),
        conv(substring(md5(concat(lit("win|"), col("sh")).cast("binary")),
                       1, 10), 16, 10).cast("long").as("h"))
    grams.select(col(idCol), col("pos"), col("h"),
        explode(sequence(lit(0), lit(w - 1))).as("k"))
      .withColumn("q", col("pos") + col("k"))
      .groupBy(col(idCol), col("q"))
      .agg(count(lit(1)).as("n"),
           min(col("h") * slots + (lit(slots - 1) - col("pos"))).as("cm"))
      .filter(col("n") === w)
      .select(col(idCol), (lit(slots - 1) - col("cm") % slots).as("pos"),
              expr(s"cm DIV $slots").as("gram_hash"))
      .distinct()
  }

  // ------------------------------------------------------------ simhash

  /** 16-bit SimHash over word tokens (multiplicity-weighted). Each
    * word's 16-bit sketch is the first 4 hex digits of its md5; bit b of
    * the simhash is 1 iff the ±1 vote sum over words is ≥ 0. 16 bits
    * keeps the oracle SQL tractable while exercising the full
    * bit-vote structure; widen the loop bound for 64-bit production use.
    */
  val SimHashBits = 16

  /** Native single-pass expression (graft.functions.SimHash16): one md5
    * per token per row, all 16 bit-votes in the same pass. The composed
    * built-ins form (16 `aggregate` HOFs over a `transform`) is
    * semantically identical but ~16× the hashing plus interpreted lambda
    * frames — measured ~10× slower at sf0.1. */
  def simHash(text: Column): Column =
    graft.functions.TextHashFunctions.simHash16(tokenize(text))

  /** Hamming distance between two SimHash values. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // -------------------------------------------------- unigram LM scoring

  /** CCNet-style corpus-LM fluency score: per-document mean negative
    * log-probability under a Laplace-smoothed unigram model trained on
    * the corpus itself (p(w) = (c_w + 1) / (T + V)). Low NLL = built
    * from common tokens; the classic head/middle/tail quality-filter
    * signal for pretraining corpora.
    *
    * Scale shape (100 TB): the token explode + vocab count is ONE
    * shuffle with map-side combine; the token→log-prob join broadcasts
    * the vocab table (vocab is ~10⁵-10⁷ rows regardless of corpus
    * size); the per-doc aggregate is one shuffle on the doc key. No
    * driver-side state.
    *
    * Cross-engine determinism: a sum of per-token ln() doubles is
    * ordering-dependent, so each vocab word's log-prob numerator is
    * quantized ONCE to a 1e-6-grid integer (`round(ln(c+1)*1e6)` as
    * BIGINT) and the per-doc sum runs over exact integers — invariant
    * under partitioning and identical in DuckDB. The two remaining
    * transcendental spots (per-word ln, corpus-constant ln(T+V)) follow
    * the sanctioned round-6 quantization (CLAUDE.md).
    */
  /** Per-document character-distribution diversity (the batch half of
    * the `text_char_entropy` row; the streaming gate recomputes the
    * same metrics per-row — `StreamOps.charDiversityGate` — and a spec
    * pins the two implementations equal): exact Gini-Simpson collision
    * mass `Σ n_c²·10⁶ DIV n²` and Shannon entropy in micro-bits with
    * per-(doc, char)-TYPE log₂ terms quantized to the 1e-6 grid, so
    * the rollup is an exact integer sum. Empty documents are excluded
    * (no char rows) on every implementation.
    *
    * Character grain (ADVICE r10): Spark's `split(text, "")` yields
    * UTF-16 code units while the oracle's DuckDB `string_split(text,
    * '')` yields code points — they agree exactly on BMP text (the
    * fixtures are ASCII words, the Tables.events-style assumption this
    * note makes explicit) but a non-BMP character (emoji, astral CJK)
    * would split into surrogate halves on the Spark side only. If a
    * regenerated fixture ever ships astral text, switch BOTH engines to
    * an explicit code-point grain (e.g. `regexp_extract_all(text,
    * '(?s).', 0)` — Java regex and RE2 both match per code point)
    * rather than papering over one side. */
  def charDiversity(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol), explode(split(col(textCol), "")).as("c"))
      .filter(length(col("c")) > 0)
      .groupBy(col(idCol), col("c")).agg(count(lit(1)).as("nc"))
      .withColumn("lq",
        expr("CAST(round(log2(CAST(nc AS DOUBLE)) * 1000000) AS BIGINT)"))
      .groupBy(col(idCol))
      .agg(sum(col("nc")).as("n"), count(lit(1)).as("n_distinct"),
           sum(expr("nc * nc")).as("s2"),
           sum(expr("nc * lq")).as("slq"))
      .select(col(idCol), col("n").as("n_chars"), col("n_distinct"),
        expr("s2 * 1000000 DIV (n * n)").as("simpson_ppm"),
        (expr("CAST(round(log2(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)")
          - expr("slq DIV n")).as("entropy_micro"))

  def unigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = PlanCache.reuse(
      df.select(col(idCol), explode(tokenize(col(textCol))).as("w")))
    val vc = PlanCache.reuse(
      tok.groupBy(col("w")).agg(count(lit(1)).as("c")))
    val tot = vc.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val lp = vc.select(col("w"),
      round(log((col("c") + lit(1)).cast("double")) * lit(1e6))
        .cast("long").as("lp6"))
    tok.join(lp, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp6")).as("s6"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("n_tokens"),
        round(round(log((col("t") + col("v")).cast("double")), 6) -
          (col("s6").cast("double") / lit(1e6)) / col("n_tokens"), 6)
          .as("nll"))
  }

  /** The trained model behind [[unigramNll]], exportable to the online
    * scorer (`streaming.StreamOps.scoreStream`): the vocab log-prob
    * table `(w, lp6)` on the same 1e-6 integer grid, plus the 1-row
    * `(t, v)` totals frame the scorer folds into its ln(T+V) constant.
    * Train in batch, ship the table — the scorer never sees the
    * training corpus. */
  def unigramModel(df: org.apache.spark.sql.DataFrame,
                   textCol: String): (org.apache.spark.sql.DataFrame,
                                      org.apache.spark.sql.DataFrame) = {
    val vc = PlanCache.reuse(
      df.select(explode(tokenize(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val tot = vc.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val lp = vc.select(col("w"),
      round(log((col("c") + lit(1)).cast("double")) * lit(1e6))
        .cast("long").as("lp6"))
    (lp, tot)
  }

  /** Bigram add-one LM fluency: per-document mean negative log-prob
    * under p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) trained on the corpus — one
    * conditioning order up from [[unigramNll]], the stronger CCNet-style
    * fluency signal (word-salad text scores high even when its unigram
    * distribution matches the corpus). Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    *
    * Scale shape (100 TB): bigram extraction rides the one-pass native
    * [[wordShingles]] expression (n = 2); the bigram-type table is
    * vocab²-bounded in principle but Zipf-bounded in practice (real
    * corpora: ~10⁷-10⁸ types) and AQE picks the join strategy; the
    * per-doc aggregate is one shuffle on the doc key.
    *
    * Determinism: per-TYPE log terms are quantized to the 1e-6 integer
    * grid (the sanctioned transcendental rule) BEFORE any per-doc sum,
    * so the float-dependent reduction is over exact integers — bit-
    * stable under partitioning and identical in DuckDB. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    val big = PlanCache.reuse(
      df.select(col(idCol), explode(wordShingles(col(textCol), 2)).as("bg")))
    val uni = PlanCache.reuse(
      df.select(explode(tokenize(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu")))
    val v = uni.agg(count(lit(1)).as("v"))
    val lp = big.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uni, col("w1") === col("w")).crossJoin(broadcast(v))
      .select(col("bg"),
        (round(log((col("cb") + lit(1)).cast("double")) * lit(1e6)).cast("long")
          - round(log((col("cu") + col("v")).cast("double")) * lit(1e6))
              .cast("long")).as("lp6"))
    big.join(lp, Seq("bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp6")).as("s6"))
      .select(col(idCol), col("n_bigrams"),
        round(-(col("s6").cast("double") / lit(1e6)) / col("n_bigrams"), 6)
          .as("nll"))
  }

  /** ln(0.4) on the 1e-6 grid — the stupid-backoff discount, one
    * constant shared by the Spark plan and the generated oracle SQL. */
  val Qln04: Long = math.round(math.log(0.4) * 1e6)

  /** Stupid-backoff trigram scorer (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4 — the score web-scale
    * LM filters actually use, CCNet-style): documents in `score` get a
    * mean negative-log-score under trigram counts TRAINED on a
    * separate corpus slice, so unseen n-grams genuinely back off:
    *
    *   S(w₃|w₁w₂) = c₃/c₂(w₁w₂)            if the trigram was seen
    *              = 0.4 · c₂(w₂w₃)/c₁(w₂)   else if the bigram was
    *              = 0.4² · (c₁(w₃)+1)/(N+V) else (add-one unigram
    *                floor, the [[unigramNll]] convention, so OOV
    *                words score finitely)
    *
    * Per-doc output counts how often each backoff level fired
    * (`n_bo_bigram`, `n_bo_unigram`) — the observable that separates
    * in-domain from out-of-domain text. Exactness: every per-TYPE log
    * term lands on the 1e-6 integer grid (ln quantization, the
    * sanctioned transcendental rule) and the per-doc reduction sums
    * exact BIGINTs; the only float is the final mean, rounded to 6.
    *
    * Scale shape (100 TB): n-gram count tables are VOCAB-bound with
    * map-side combine (three aggregations over the train slice);
    * scoring is per distinct trigram TYPE (five vocab-keyed left
    * joins on the types table, never per occurrence), then ONE
    * corpus-scale join keyed on the trigram + the doc rollup — the
    * [[bigramNll]] shape one order up, plus the backoff CASE. */
  def trigramBackoffNll(train: org.apache.spark.sql.DataFrame,
                        score: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    def q(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val t3 = train.select(explode(wordShingles(col(textCol), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c3"))
    val t2 = PlanCache.reuse(
      train.select(explode(wordShingles(col(textCol), 2)).as("g2"))
        .groupBy(col("g2")).agg(count(lit(1)).as("c2")))
    val t1 = PlanCache.reuse(
      train.select(explode(tokenize(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1")))
    val nv = t1.agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
    val occ = PlanCache.reuse(
      score.select(col(idCol), explode(wordShingles(col(textCol), 3)).as("g")))
    val types = occ.select(col("g")).distinct()
      .withColumn("ws", split(col("g"), " "))
      .withColumn("g12", concat_ws(" ", col("ws").getItem(0), col("ws").getItem(1)))
      .withColumn("g23", concat_ws(" ", col("ws").getItem(1), col("ws").getItem(2)))
      .join(t3, Seq("g"), "left")
      .join(t2.select(col("g2").as("g12"), col("c2").as("c12")), Seq("g12"), "left")
      .join(t2.select(col("g2").as("g23"), col("c2").as("c23")), Seq("g23"), "left")
      .join(t1.select(col("w").as("w2t"), col("c1").as("cu2")),
            col("ws").getItem(1) === col("w2t"), "left")
      .join(t1.select(col("w").as("w3t"), col("c1").as("cu3")),
            col("ws").getItem(2) === col("w3t"), "left")
      .crossJoin(broadcast(nv))
      .select(col("g"),
        when(col("c3").isNotNull, q(col("c3")) - q(col("c12")))
          .when(col("c23").isNotNull,
            lit(Qln04) + q(col("c23")) - q(col("cu2")))
          .otherwise(lit(2 * Qln04)
            + q(coalesce(col("cu3"), lit(0L)) + lit(1))
            - q(col("n") + col("v"))).as("s6"),
        when(col("c3").isNotNull, 0).when(col("c23").isNotNull, 1)
          .otherwise(2).as("lvl"))
    occ.join(types, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
           sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_bo_bigram"),
           sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bo_unigram"),
           sum(col("s6")).as("s6"))
      .select(col(idCol), col("n_trigrams"), col("n_bo_bigram"),
        col("n_bo_unigram"),
        round(-(col("s6").cast("double") / lit(1e6)) / col("n_trigrams"), 6)
          .as("nll"))
  }

  // ------------------------------------------------------- BPE training

  /** Byte-pair-encoding merge training over the corpus — the real
    * iterative form of the "BPE-ish" pre-tokenizer ([[subTokenCount]]).
    * Returns the learned merge table: (step, left_sym, right_sym,
    * merged, pair_count), steps ordered by training time.
    *
    * Scale shape (100 TB): exactly one corpus-scale job — the word-
    * frequency aggregation (one shuffle, map-side combine). The merge
    * loop then runs entirely on the word-frequency table, whose size is
    * VOCAB-bound (~10⁵-10⁷ rows) regardless of corpus bytes — the same
    * observation production BPE trainers (fastBPE et al.) build on. The
    * vocab frame is cached and self-sized from its observed count
    * (CLAUDE.md round-7 partitioner rule).
    *
    * Training is BATCHED: pair counts are recomputed once per
    * `batchK` merges, and each recount's top-`batchK` pairs (count
    * desc, pair asc — a total order) are applied sequentially in rank
    * order. This is the standard batched-trainer approximation (stale
    * within-batch counts; a merge recorded with the count observed at
    * its batch's recount, which later in-batch merges may have
    * reduced) — it bounds the driver round-trips and the stacked
    * `replace` depth at steps/batchK instead of steps, the difference
    * between 6 jobs and 30 000 at a real vocab size. batchK = 1
    * recovers exact greedy BPE. The vocab frame's lineage is truncated
    * once per batch (lazy checkpoint — no extra job), so each recount
    * reads materialized rows, never the replayed replace stack.
    *
    * Merge application deviates from canonical greedy BPE in one
    * mirrored way: a merge rewrites each word via single-pass
    * NON-OVERLAPPING left-to-right `replace` on the space-joined symbol
    * string, so for runs like `a a a a a` the 2nd/3rd occurrence
    * grouping can differ from python-reference pairing. Spark's
    * `replace` and DuckDB's `replace` share these semantics exactly, so
    * the oracle reproduces the engine bit-for-bit (and the
    * spec pins the loop against an independent in-JVM trainer with the
    * same replace rule).
    */
  /** The corpus-scale half of BPE training: the word-frequency table
    * with each word pre-split into space-joined symbols. ONE shuffle
    * over the corpus; everything after is vocab-bound. Exposed so the
    * bench prewarm can share it — `text_bpe_merges` and `text_bpe_encode`
    * both train from this exact frame (CacheManager sameResult). */
  def bpeWordFreq(df: org.apache.spark.sql.DataFrame,
                  textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(tokenize(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("seq",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
      .select(col("seq"), col("cnt"))

  def bpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                steps: Int, batchK: Int = 8): org.apache.spark.sql.DataFrame = {
    require(batchK >= 1, "batchK must be positive")
    val session = df.sparkSession
    val cached = PlanCache.reuse(bpeWordFreq(df, textCol))
    // vocab-bound loop: size the frame from its observed count, not the
    // session default — 32 near-empty tasks per step would otherwise
    // dominate the loop wall (CLAUDE.md round-7 gotcha)
    val n = cached.count()
    val parts = math.max(1, math.min(
      session.sparkContext.defaultParallelism.toLong, n / 65536 + 1)).toInt
    var wf = PlanCache.reuse(cached.repartition(parts))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    // FIXED-GRID batch advance: each recount consumes a full batchK-wide
    // step window even when fewer distinct pairs exist (the ragged tail
    // near vocabulary exhaustion) — missing ranks are no-ops and the
    // next recount happens at the same grid offset the unrolled oracle
    // chain uses. An adaptive advance (step += merges applied) would
    // recount EARLIER than the oracle exactly when batches underfill,
    // silently diverging at real vocab sizes. Identical to the adaptive
    // form while batches fill, which is all small step counts ever see.
    var off = 0
    var exhausted = false
    while (off < steps && !exhausted) {
      // one driver job per BATCH: top-k pairs in one TakeOrdered collect
      val k = math.min(batchK, steps - off)
      val top = wf
        .withColumn("s", split(trim(col("seq")), " "))
        .filter(size(col("s")) > 1)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(s)-1)," +
            " i -> named_struct('a', s[i-1], 'b', s[i]))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(k).collect()
      if (top.isEmpty) exhausted = true
      else {
        top.zipWithIndex.foreach { case (r, j) =>
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          out += (((off + j + 1).toLong, a, b, a + b, c))
          wf = wf.withColumn("seq",
            replace(col("seq"), lit(s" $a $b "), lit(s" $a$b ")))
        }
        off += k
        // truncate the replace stack once per batch; lazy — materializes
        // inside the NEXT batch's collect job, adding none of its own
        wf = wf.localCheckpoint(eager = false)
      }
    }
    import session.implicits._
    out.toSeq.toDF("step", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** BPE ENCODE pass — the corpus-scale half of the tokenizer. Applies
    * an already-learned merge list (ordered) and reports corpus-level
    * token statistics: distinct words, word occurrences, chars (=
    * char-level tokens before any merge), post-merge tokens, and the
    * tokens-per-1000-chars compression ratio.
    *
    * Scale shape (100 TB): encoding dictionary-encodes first — the
    * merge fold runs once per DISTINCT word (vocab-bound), weighted by
    * the word count, never once per corpus token. The merge list rides
    * into the plan as literals (a broadcast-free constant fold); the
    * whole pass is the word-count shuffle plus a map-side fold. All
    * output columns are integers — no float canonicalization.
    */
  def bpeEncodeStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                     merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val wf = df.select(explode(tokenize(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val seq0 = concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
    val seqK = merges.foldLeft(seq0) { case (c, (a, b)) =>
      replace(c, lit(s" $a $b "), lit(s" $a$b "))
    }
    val t = trim(seqK)
    wf.select(col("cnt"),
        size(split(t, " ")).cast("long").as("ntok"),
        length(replace(t, lit(" "), lit(""))).cast("long").as("nch"))
      .agg(
        count(lit(1)).as("n_distinct_words"),
        sum(col("cnt")).as("n_word_occurrences"),
        sum(col("cnt") * col("nch")).as("n_chars"),
        sum(col("cnt") * col("ntok")).as("n_tokens"))
      .withColumn("compression_permille",
        expr("n_tokens * 1000 DIV n_chars"))
  }
}
