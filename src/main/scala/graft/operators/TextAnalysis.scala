package graft.operators

import graft.functions.{BpeMerge, LookupSum}
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: tokenization,
 * quality scoring, a language-ID heuristic, and document fingerprinting.
 * All are composed from codegen'd built-ins (no UDFs in the hot path) and
 * are embarrassingly parallel — per-row projections that survive any
 * scale-up; the only aggregations are standard group-bys.
 *
 * The five trained text models (unigram, bigram and trigram LMs, Naive
 * Bayes, hashed-linear) train into driver-side values through bounded
 * aggregates and score through ONE Column, [[textScores]] — the
 * [[graft.functions.LookupSum]] kernel. Every scoring entry is a select
 * over it, so one entry serves a batch frame, a stream and the registry.
 */
object TextAnalysis {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def tokens(text: Column): Column = split(lower(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style PRE-TOKENIZER grain, simplified to the subset that
    * behaves identically under java.util.regex and RE2 (DuckDB): a
    * token is an optionally-space-prefixed letter run, digit run, or
    * punctuation run, or a whitespace run. No lookahead (RE2 has none)
    * and no unicode classes (class semantics differ across engines).
    * This is the "tokens a BPE would start from" count — the budget
    * number a training pipeline actually bills by — as opposed to
    * [[tokenCount]]'s whitespace words. */
  val BpeishPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), w => w.isin(stopwords.map(lit): _*)))

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text).cast("double")

  def avgTokenLen(text: Column): Column =
    length(text).cast("double") / tokenCount(text).cast("double")

  /** Heuristic quality ∈ [0,1]: length sweet-spot × stopword plausibility.
    * Deterministic per-row double math (portable to the oracle). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(lit(1.0), tokenCount(text).cast("double") / lit(100.0))
    val stopScore = lit(1.0) - abs(stopwordRatio(text) - lit(0.10))
    round(lenScore * stopScore, 6)
  }

  /** Stopword-profile language-ID heuristic: English function words push
    * towards 'en'. A real deployment swaps in per-language n-gram
    * profiles; the operator shape (scored CASE over per-row token stats)
    * is the same. */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.02, lit("en")).otherwise(lit("unk"))

  /** Whitespace-normalized content fingerprint (md5). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, " +", " ")))

  /** Polynomial rolling hash of the token stream (base 31, mod 1e9+7 so
    * the accumulator never overflows a long) — an order-sensitive
    * fingerprint usable for shift-detection, computed as a deterministic
    * sequential fold. */
  def rollingHash(textColName: String): Column =
    expr(s"aggregate(split(lower($textColName), ' '), " +
      "CAST(0 AS BIGINT), (acc, w) -> pmod(acc * 31 + crc32(w), 1000000007))")

  /** Heavy hitters over a token column via the mergeable bounded-memory
    * SpaceSaving sketch (see [[graft.functions.SpaceSavingTopK]]) —
    * partial sketches of ≤ `capacity` counters combine map-side, so the
    * vocabulary never shuffles in full. Returns (tok, cnt) rows, count
    * descending. */
  def approxTopK(toks: DataFrame, tokCol: String, k: Int,
                 capacity: Int): DataFrame = {
    val sketch = udaf(new graft.functions.SpaceSavingTopK(k, capacity))
    toks.agg(sketch(col(tokCol)).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e._1").as("tok"), col("e._2").as("cnt"))
  }

  // ---- trained text models: one scorer ---------------------------------

  /** `round(1e6 · ln(num/den))` exactly as Spark evaluates
    * `round(log(num / den) * 1e6)`: `StrictMath.log` (the function
    * Spark's `log` calls) and HALF_UP through the double's decimal
    * string (Spark's `round` on a double). The ONE driver-side spelling
    * of a micro-nat: every trained model's table goes through it, so the
    * tables hold what a Spark expression over the same counts would. */
  def micro(num: Long, den: Long): Long =
    BigDecimal(StrictMath.log(num.toDouble / den.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue

  /** A trained text model held on the driver. Every one scores through
    * [[textScores]]; `table` is the model as the kernel reads it. */
  sealed trait TextModel {
    private[operators] def table: LookupSum.Model
    /** The per-row key array the model's windows run over. */
    private[operators] def keys(text: Column): Column = tokens(text)
  }

  /** THE scoring Column of every trained text model: per row, an
    * `array<bigint>` of micro-nat scores — one per label, labels in the
    * model's ascending `labels` order, for a classifier; one log-prob sum
    * for a language model. It is one [[graft.functions.LookupSum]]
    * kernel over the row's tokens (hashed-linear: its feature slots), a
    * pure projection: the same Column serves a batch frame, a stream and
    * the registry. NULL text scores NULL. Building it launches no Spark
    * job. */
  def textScores(model: TextModel, text: Column): Column =
    GraftShim.column(LookupSum(GraftShim.expression(model.keys(text)), model.table))

  /** The top-`vocabSize` tokens with their counts, count descending and
    * ties to the smaller token: one token-grain aggregate, collected
    * (≤ `vocabSize` rows). */
  private def topVocab(docs: DataFrame, textCol: String,
                       vocabSize: Int): Seq[(String, Long)] = {
    require(vocabSize > 0, s"vocabSize must be > 0, got $vocabSize")
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** Counts of every n-gram of arity 1..`n` over the token stream with
    * each token outside `vocab` read as [[LookupSum.Oov]], keyed by the
    * space-joined tokens (tokens hold no space, so a key's arity is its
    * space count + 1). N-grams form per row by slicing the mapped array —
    * no window sorts the corpus — and the one aggregate is collected,
    * (V+1)^n-bounded. */
  private def ngramCounts(docs: DataFrame, textCol: String, vocab: Set[String],
                          n: Int): Map[String, Long] = {
    val w = col("__w")
    val grams = (1 to n).map(k => if (k == 1) w else
      transform(slice(w, lit(1), greatest(size(w) - (k - 1), lit(0))),
        (_, i) => array_join(slice(w, i + 1, lit(k)), " ")))
    docs.select(transform(tokens(col(textCol)), t =>
        when(t.isInCollection(vocab), t).otherwise(lit(LookupSum.Oov))).as("__w"))
      .select(explode(concat(grams: _*)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Per-row language-model frame: `(id, <countName>, lp_sum_micro)`,
    * the count being the row's n-gram windows. Rows without one (fewer
    * than n tokens, NULL text) are absent. */
  private def lmScored(model: TextModel, docs: DataFrame, idCol: String,
                       textCol: String, countName: String): DataFrame =
    docs.select(col(idCol).as("id"),
        (size(tokens(col(textCol))) - lit(model.table.n - 1)).cast("long")
          .as(countName),
        textScores(model, col(textCol)).as("__s"))
      .filter(col(countName) > 0)
      .select(col("id"), col(countName),
        element_at(col("__s"), 1).as("lp_sum_micro"))

  /** A trained add-one-smoothed unigram LM: the top-V tokens with their
    * counts and `nTotal`, the count of ALL tokens (OOV included). A
    * token scores ln((cnt+1)/(N+V+1)), an OOV token ln(1/(N+V+1)). */
  final case class UnigramModel(vocab: Map[String, Long], nTotal: Long)
      extends TextModel {
    private[operators] lazy val table: LookupSum.Model = {
      val den = nTotal + vocab.size + 1L
      LookupSum.Model(1, None,
        Seq(LookupSum.Level(0, 1, vocab.map { case (t, c) => t -> Seq(micro(c + 1L, den)) })),
        Seq(micro(1L, den)), Seq(0L))
    }
  }

  /** Train [[UnigramModel]]: the top-`vocabSize` vocabulary, then the
    * token total. */
  def unigramModel(docs: DataFrame, textCol: String,
                   vocabSize: Int = 1000): UnigramModel =
    UnigramModel(topVocab(docs, textCol, vocabSize).toMap,
      docs.select(explode(tokens(col(textCol)))).count())

  /**
   * CCNet-style unigram language-model quality score: per-document mean
   * token log-probability under an add-one-smoothed unigram model fit on
   * the corpus itself (low = rare/garbled tokens; the standard cheap
   * perplexity proxy for corpus filtering). Returns
   * (id, n_toks, lp_sum_micro, avg_logprob) — the exact integer micro-nat
   * sum alongside the human-readable double mean; NULL-text rows are
   * absent.
   *
   * Scale shape (the 100 TB path): training is two vocabulary-bounded
   * aggregates, collected to the driver ([[unigramModel]]); scoring is
   * one per-row projection ([[textScores]]) — no join, no shuffle.
   *
   * Cross-engine determinism: per-token log-probs are quantized to
   * integer MICRO-NATS ([[micro]]) and summed as BIGINT — exact and
   * order-independent; only the final mean is floating point. (`ln` is
   * the single libm call over exact integer ratios; StrictMath need not
   * bit-match DuckDB's libm, so a token whose ln(ratio)*1e6 lands within
   * ~1 ulp of a .5 rounding boundary could shift lp_micro by 1 there —
   * green on this corpus, empirical rather than guaranteed.)
   */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     vocabSize: Int = 1000): DataFrame =
    unigramLogProb(unigramModel(docs, textCol, vocabSize),
      docs, idCol, textCol)

  /** Score `docs` (a batch frame or a stream) under a trained
    * [[UnigramModel]]; the [[unigramLogProb]] output contract. */
  def unigramLogProb(model: UnigramModel, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    lmScored(model, docs, idCol, textCol, "n_toks")
      .select(col("id"), col("n_toks"), col("lp_sum_micro"),
        (col("lp_sum_micro").cast("double") / col("n_toks") / lit(1e6))
          .as("avg_logprob"))

  /** A trained bigram LM: the top-V `vocab` (every other token reads as
    * OOV first), `c1` the mapped-token counts and `c12` the mapped-pair
    * counts keyed "w1 w2". A pair scores ln((c12+1)/(c1(w1)+V+1)); an
    * unseen pair ln(1/(c1(w1)+V+1)), with c1 = 0 for a first token never
    * seen in training. */
  final case class BigramModel(vocab: Set[String], c1: Map[String, Long],
                               c12: Map[String, Long]) extends TextModel {
    def vSize: Long = vocab.size.toLong
    private[operators] lazy val table: LookupSum.Model = {
      def den(w1: String) = c1.getOrElse(w1, 0L) + vSize + 1L
      LookupSum.Model(2, Some(vocab), Seq(
        LookupSum.Level(0, 2, c12.map { case (k, c) =>
          k -> Seq(micro(c + 1L, den(k.substring(0, k.indexOf(' '))))) }),
        LookupSum.Level(0, 1, c1.map { case (w, _) => w -> Seq(micro(1L, den(w))) })),
        Seq(micro(1L, vSize + 1L)), Seq(0L))
    }
  }

  /** Train [[BigramModel]]: the top-`vocabSize` vocabulary, then one
    * aggregate of mapped tokens and pairs. */
  def bigramModel(docs: DataFrame, textCol: String,
                  vocabSize: Int = 20): BigramModel = {
    val vocab = topVocab(docs, textCol, vocabSize).map(_._1).toSet
    val (c1, c12) = ngramCounts(docs, textCol, vocab, 2)
      .partition { case (k, _) => !k.contains(' ') }
    BigramModel(vocab, c1, c12)
  }

  /**
   * Bigram-LM quality score — the conditional upgrade of
   * [[unigramLogProb]]: per-doc log P(w_i | w_{i-1}) summed, add-one
   * smoothing over a top-`vocabSize` vocabulary (everything else maps to
   * one OOV bucket FIRST, so the model is bounded by (vocab+1)²).
   * Returns (id, n_bigrams, lp_sum_micro); docs with fewer than two
   * tokens have no bigram and are absent. Same scale shape and
   * determinism envelope as [[unigramLogProb]] ([[bigramModel]] trains,
   * [[textScores]] scores).
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int = 20): DataFrame =
    bigramLogProb(bigramModel(docs, textCol, vocabSize),
      docs, idCol, textCol)

  /** Score `docs` (a batch frame or a stream) under a trained
    * [[BigramModel]]; the [[bigramLogProb]] output contract. */
  def bigramLogProb(model: BigramModel, docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    lmScored(model, docs, idCol, textCol, "n_bigrams")

  /**
   * C4-style LINE-GRAIN page cleaning (Raffel et al. 2020, the C4
   * corpus rules): keep only lines that end in terminal punctuation
   * (`. ! ? "`) AND carry at least `minLineWords` words; drop the whole
   * page when it contains any of `badPhrases` (case-insensitive), a
   * curly brace (the C4 "no code" heuristic), or fewer than
   * `minKeptLines` surviving lines. Returns one row per input doc:
   * `(id, n_lines, n_kept, bad_phrase, has_curly, dropped, text_clean)`
   * — flags rather than a silent filter, so callers can count what each
   * rule removed (the datasheet a pipeline audit wants).
   *
   * Scale shape: a pure per-row projection — one regex-filtered lambda
   * over the line array (bound ONCE to a named column; the r16
   * column-tree duplication trap), zero joins, zero shuffles, trivially
   * streaming-safe. All decisions are exact string/integer predicates,
   * so a DuckDB replay is bit-exact (entry `text_c4_clean`).
   */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minKeptLines: Int = 3,
              badPhrases: Seq[String] = Seq("lorem ipsum"),
              banCurlyBrace: Boolean = true): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        c4Columns(col(textCol), C4Rules(minLineWords, minKeptLines,
          badPhrases, banCurlyBrace)).as("__c4"))
      .select(col("id"), col("__c4.n_lines"), col("__c4.n_kept"),
        col("__c4.bad_phrase"), col("__c4.has_curly"),
        col("__c4.dropped"), col("__c4.text_clean"))

  /** The C4 rule parameters as a value object — the streaming gate's
    * configuration ([[graft.streaming.StreamingOps.curateStream]]'s
    * `c4=`). */
  final case class C4Rules(minLineWords: Int = 5, minKeptLines: Int = 3,
                           badPhrases: Seq[String] = Seq("lorem ipsum"),
                           banCurlyBrace: Boolean = true)

  /** The per-row CORE of [[c4Clean]] as one struct Column
    * `(n_lines, n_kept, bad_phrase, has_curly, dropped, text_clean)` —
    * shared by the batch operator and the streaming gate so the two
    * cannot disagree. The line array and the kept array each bind to a
    * lambda variable (the r16 duplication trap: an inlined Column tree
    * re-runs per reference). */
  def c4Columns(text: Column, rules: C4Rules): Column = {
    require(rules.minLineWords >= 1, "minLineWords must be >= 1")
    require(rules.minKeptLines >= 0, "minKeptLines must be >= 0")
    require(rules.badPhrases.forall(_.nonEmpty), "empty bad phrase")
    val badp = rules.badPhrases.map(p => lower(text).contains(lit(p)))
      .reduce(_ || _)
    val curly =
      if (rules.banCurlyBrace) text.contains(lit("{")) else lit(false)
    element_at(transform(array(split(text, "\n")), ls =>
      element_at(transform(array(filter(ls, l =>
        l.rlike("[.!?\"]$") &&
          size(split(l, " ")) >= rules.minLineWords)), kp =>
        struct(
          size(ls).cast("long").as("n_lines"),
          size(kp).cast("long").as("n_kept"),
          badp.as("bad_phrase"), curly.as("has_curly"),
          (badp || curly || size(kp) < lit(rules.minKeptLines))
            .as("dropped"),
          array_join(kp, "\n").as("text_clean"))), 1)), 1)
  }

  /** round(1e6·ln 0.4) as a FIXED literal — the stupid-backoff penalty
    * in micro-nats. A literal (not a computed ln) so backoff levels are
    * pure integer addition with zero cross-engine libm exposure. */
  val StupidBackoffPenaltyMicro: Long = -916291L

  /** A trained stupid-backoff trigram LM held on the driver — the
    * artifact of [[trigramModel]]. `tri` holds only count-pruned
    * trigrams (`ct >= trigramMin`); `bi` holds ALL bigrams (it serves
    * both the c12 denominator and, via the `>= bigramMin` check, the
    * backoff membership); keys are space-joined (tokens come from a space
    * split, so the separator is collision-free). All maps are
    * (vocab+1)^arity-bounded. On new text, a token absent from the
    * training tables backs its unigram count to 1 (a singleton
    * estimate). */
  final case class TrigramModel(vocabSet: Set[String],
                                tri: Map[String, Long],
                                bi: Map[String, Long],
                                uni: Map[String, Long], nTotal: Long,
                                trigramMin: Long, bigramMin: Long)
      extends TextModel {
    private[operators] lazy val table: LookupSum.Model = {
      val pen = StupidBackoffPenaltyMicro
      def prefix(k: String) = k.substring(0, k.lastIndexOf(' '))
      LookupSum.Model(3, Some(vocabSet), Seq(
        LookupSum.Level(0, 3, tri.map { case (k, ct) =>
          k -> Seq(micro(ct, bi.getOrElse(prefix(k), 1L))) }),
        LookupSum.Level(1, 3, bi.filter(_._2 >= bigramMin).map { case (k, cb) =>
          k -> Seq(pen + micro(cb, uni.getOrElse(prefix(k), 1L))) }),
        LookupSum.Level(2, 3, uni.map { case (w, cu) =>
          w -> Seq(2 * pen + micro(cu, nTotal)) })),
        Seq(2 * pen + micro(1L, nTotal)), Seq(0L))
    }
  }

  /** Train [[TrigramModel]]: the top-`vocabSize` vocabulary, then one
    * aggregate of mapped tokens, pairs and triples. */
  def trigramModel(docs: DataFrame, textCol: String,
                   vocabSize: Int = 20, trigramMin: Long = 2L,
                   bigramMin: Long = 2L): TrigramModel = {
    require(vocabSize >= 1 && vocabSize <= 256,
      s"vocabSize must be in [1, 256] (the (V+1)^3 trigram table is " +
        s"collected — keep it bounded), got $vocabSize")
    require(trigramMin >= 1L && bigramMin >= 1L,
      "count-pruning thresholds must be >= 1")
    val vocab = topVocab(docs, textCol, vocabSize).map(_._1).toSet
    val byArity = ngramCounts(docs, textCol, vocab, 3)
      .groupBy { case (k, _) => k.count(_ == ' ') }
      .withDefaultValue(Map.empty[String, Long])
    TrigramModel(vocab, byArity(2).filter(_._2 >= trigramMin), byArity(1),
      byArity(0), byArity(0).values.sum, trigramMin, bigramMin)
  }

  /**
   * Trigram STUPID-BACKOFF LM quality score (Brants et al. 2007,
   * "Large Language Models in Machine Translation" — the backoff scheme
   * designed FOR web-scale corpora: raw count ratios, a constant 0.4
   * back-off multiplier, no discount normalization, no held-out
   * tuning). Per trigram position:
   *
   *   S(w3 | w1 w2) = c123 / c12                if c123 ≥ trigramMin
   *                 = 0.4 · c23 / c2            elif c23 ≥ bigramMin
   *                 = 0.4² · c3 / N             otherwise
   *
   * `trigramMin`/`bigramMin` are the standard count-pruning thresholds
   * (a production n-gram table drops singletons — that is ALSO what
   * makes backoff reachable when scoring the training corpus itself,
   * where every observed trigram otherwise has c123 ≥ 1). Scores are
   * log micro-nats: the 0.4 penalty is the fixed integer literal
   * [[StupidBackoffPenaltyMicro]] per backoff level, so only the
   * count-RATIO ln is libm (the [[unigramLogProb]] envelope); sums are
   * exact BIGINT, order-independent.
   *
   * Scale shape: OOV maps to one bucket FIRST, so every model table is
   * (vocab+1)^arity-bounded; [[trigramModel]] trains, [[textScores]]
   * scores each row with the three levels as one kernel's backoff.
   * Returns (id, n_trigrams, lp_sum_micro). Docs with fewer than 3
   * tokens have no trigram and are absent.
   */
  def trigramStupidBackoff(docs: DataFrame, idCol: String, textCol: String,
                           vocabSize: Int = 20, trigramMin: Long = 2L,
                           bigramMin: Long = 2L): DataFrame =
    trigramStupidBackoff(
      trigramModel(docs, textCol, vocabSize, trigramMin, bigramMin),
      docs, idCol, textCol)

  /** Score `docs` (a batch frame or a stream) under a trained
    * [[TrigramModel]]; the [[trigramStupidBackoff]] output contract. */
  def trigramStupidBackoff(model: TrigramModel, docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    lmScored(model, docs, idCol, textCol, "n_trigrams")

  /** Hashing-trick linear scorer over token BIGRAMS — the plumbing of a
    * fastText-style model-based quality filter: each bigram hashes into
    * one of `buckets` weight slots, the document's score is the mean
    * slot weight. The weight vector here derives deterministically from
    * the slot index (micro-units in [-1000, 1000] off md5 — a stand-in
    * for trained weights, which would arrive as a broadcast array with
    * the SAME lookup shape); what the operator exercises for real is
    * the at-scale layout: bounded state regardless of vocabulary (the
    * hashing trick's point), no model join at all — bucket and weight
    * are pure per-row codegen'd arithmetic, so the whole scorer is one
    * explode + one per-doc aggregate. Docs with fewer than 2 tokens
    * have no bigram and are absent from the output. All intermediates
    * stay < 2^53, so the DuckDB oracle replays it bit-exactly.
    *
    * Returns (id, n_bigrams, score_sum_micro). */
  def hashedBigramScore(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int, seed: String): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val t = tokens(col(textCol))
    val pairs = docs.select(col(idCol).as("id"),
        explode(arrays_zip(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1)))
          .as("p"))
      .select(col("id"),
        concat(col("p").getField("0"), lit("_"), col("p").getField("1"))
          .as("bg"))
    // slot = 52-bit md5 prefix of (seed, bigram) mod buckets; weight =
    // 52-bit md5 prefix of ('w', slot) mod 2001, shifted to [-1000,1000]
    val slot = pmod(
      conv(substring(md5(concat(lit(seed), lit("_"), col("bg"))), 1, 13),
        16, 10).cast("long"), lit(buckets.toLong))
    val weight = pmod(
      conv(substring(md5(concat(lit("w"), slot.cast("string"))), 1, 13),
        16, 10).cast("long"), lit(2001L)) - lit(1000L)
    pairs.select(col("id"), weight.as("w_micro"))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("w_micro").as("score_sum_micro"))
  }

  /** Exact floor-division mean score in micro-nats — the ONE spelling
    * of CCNet's per-doc perplexity surrogate (`lp_sum_micro` is
    * negative, so plain integer division would truncate toward zero and
    * disagree with the DuckDB replay's `((x % n) + n) % n` floor
    * idiom). NULL when `nBigrams` = 0 (a bigram-less doc has no mean). */
  def avgLpMicro(lpSum: Column, nBigrams: Column): Column =
    // integral `div`, never `/`: long/long Column `/` is DOUBLE and
    // silently loses precision above 2^53 (repo invariant); the
    // pmod-adjusted numerator is exactly divisible, so truncating div
    // IS the floor division
    when(nBigrams > 0,
      call_function("div", lpSum - pmod(lpSum, nBigrams), nBigrams))

  // ---- CCNet-style perplexity bucketing (Wenzek et al.) ---------------

  /**
   * Per-language head/middle/tail bucketing by EXACT score terciles —
   * the CCNet quality stage (Wenzek et al.): within each language,
   * documents rank by LM score (higher mean log-prob = lower perplexity
   * = better), and the top third is `head`, the middle third `middle`,
   * the rest `tail`. Rank `r` (1-based, ordered score DESC with id ASC
   * tie-break — total and engine-independent) against the language's
   * doc count `n`: head ⟺ 3r ≤ n, middle ⟺ 3r ≤ 2n — exact integer
   * arithmetic, no percent_rank doubles. NULL scores or langs raise.
   *
   * Returns (id, lang, score_micro, rk, n_lang, bucket).
   *
   * Scale shape: ONE window partitioned by language — per-language
   * sorts, the canonical CCNet batch job. When one language dominates a
   * 100-TB corpus, compute the terciles on a calibration sample with
   * THIS operator, freeze the boundary scores via [[pplThresholds]],
   * and assign the full corpus per-row with [[pplAssign]] (CCNet ships
   * exactly that: cutoffs learned once on a Wikipedia-sized sample,
   * applied per-shard).
   */
  def pplBuckets(scored: DataFrame, idCol: String, langCol: String,
                 scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val guarded = scored.select(
      when(col(idCol).isNull,
          raise_error(lit("pplBuckets: NULL id"))).otherwise(col(idCol))
        .cast("long").as("id"),
      when(col(langCol).isNull,
          raise_error(lit("pplBuckets: NULL lang"))).otherwise(col(langCol))
        .as("lang"),
      when(col(scoreCol).isNull,
          raise_error(lit("pplBuckets: NULL score"))).otherwise(col(scoreCol))
        .cast("long").as("score_micro"))
    val byLang = Window.partitionBy("lang")
    guarded
      .withColumn("rk", row_number().over(
        byLang.orderBy(col("score_micro").desc, col("id"))).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(byLang).cast("long"))
      .withColumn("bucket",
        when(col("rk") * 3 <= col("n_lang"), lit("head"))
          .when(col("rk") * 3 <= col("n_lang") * 2, lit("middle"))
          .otherwise(lit("tail")))
  }

  /** Freeze [[pplBuckets]]' tercile boundaries as per-language cutoff
    * scores: (lang, head_min_micro, middle_min_micro) — the WORST score
    * still inside each bucket; NULL when the bucket is empty for that
    * language (n < 3 langs have no head). Feed to [[pplAssign]] /
    * `lmGate` for per-row assignment of an unbounded corpus. */
  def pplThresholds(bucketed: DataFrame): DataFrame =
    bucketed.groupBy("lang").agg(
      min(when(col("bucket") === "head", col("score_micro")))
        .as("head_min_micro"),
      min(when(col("bucket") === "middle", col("score_micro")))
        .as("middle_min_micro"))

  /** Per-row bucket assignment against frozen [[pplThresholds]] cutoffs
    * — the production form (pure projection, no window). Ties AT a
    * boundary score all take the better bucket (the rank form split
    * them by id), so threshold assignment equals rank assignment
    * exactly when boundary scores are unique — document-grain scores in
    * micro-nats make cross-doc ties vanishingly rare, and the
    * difference is only ever bucket-flattering. */
  def pplAssign(score: Column, headMin: Column, middleMin: Column): Column =
    when(headMin.isNotNull && score >= headMin, lit("head"))
      .when(middleMin.isNotNull && score >= middleMin, lit("middle"))
      .otherwise(lit("tail"))

  /** Per-language corpus stats table. */
  def corpusStats(docs: DataFrame, langCol: String, textCol: String,
                  charsCol: String): DataFrame =
    docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol)).cast("bigint").as("total_chars"),
        (sum(col(charsCol)).cast("double") / count(lit(1))).as("avg_chars"),
        sum(tokenCount(col(textCol))).cast("bigint").as("total_toks"),
        expr(s"CAST(percentile($charsCol, 0.5) AS DOUBLE)").as("p50_chars"))

  // ---- BPE tokenizer TRAINING (corpus-scale merge learning) ----------

  /** Character-symbol sequence of a word: `(.)`-split with empties
    * dropped ('.' matches a full code point in both java.util.regex and
    * RE2, so multibyte text symbolizes identically across engines). */
  private def charSyms(w: Column): Column =
    filter(split(regexp_replace(w, lit("(.)"), lit("$1 ")), " "), x => x =!= "")

  /** Apply a merge list to a symbol array: the one greedy-merge kernel,
    * [[graft.functions.BpeMerge]]. */
  private def bpeMerge(syms: Column, merges: Seq[(String, String)]): Column =
    GraftShim.column(BpeMerge(GraftShim.expression(syms), merges))

  /** The weighted word vocabulary BPE trains on: one corpus shuffle
    * keyed on the whitespace word — everything after runs at VOCAB
    * grain (distinct words × counts), the shape that makes tokenizer
    * training tractable at corpus scale. */
  private def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /**
   * Learn `nMerges` BPE merges over the corpus (Sennrich et al., the
   * standard subword-tokenizer training loop): words → (word, count)
   * vocabulary (ONE corpus shuffle); then per merge, count adjacent
   * symbol pairs weighted by word frequency (a vocab-grain aggregate),
   * pick the most frequent pair (ties: count desc, then pair bytes asc —
   * deterministic on any engine), and fuse it greedily in every vocab
   * word via [[graft.functions.BpeMerge]] (per-row, no shuffle). The
   * driver sees ONE row per iteration (the argmax pair) — aggregates
   * only. No
   * end-of-word marker (pure inner-word merges; adding one is a
   * symbolization change, not a loop change).
   *
   * Returns (merge_rank, lhs, rhs) in learned order.
   *
   * 100 TB shape: the corpus is touched once (word count); each of the
   * `nMerges` iterations scans only the cached vocabulary, and the pair
   * aggregate is bounded by (distinct adjacent pairs), far below vocab
   * size. Iterations persist their fused vocabulary and drop the prior
   * one, so lineage stays one fold deep regardless of `nMerges`.
   */
  def trainBpeMerges(docs: DataFrame, textCol: String,
                     nMerges: Int): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = docs.sparkSession
    // r19 (guide §1/job-count): generations persist WITHOUT an eager
    // count() job — the next iteration's argmax action materializes the
    // cache read-through (each generation is one fold over its cached
    // parent, so the lazy chain stays one level deep). r20 (§5): the
    // argmax at iteration k is the action that fills generation k's
    // cache, after which generation k−1's cache has no consumer left —
    // unpersist it right there, capping live cached generations at 2
    // (was O(nMerges): fine at bench merge counts, but a production
    // train of 10⁴ merges would hold 10⁴ vocab-scale frames and lean on
    // LRU eviction). The job-count win is untouched — no extra action.
    var parent: Option[DataFrame] = None
    var cur = wordVocab(docs, textCol)
      .withColumn("syms", charSyms(col("w")))
      .select(col("cnt"), col("syms")).persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      for (k <- 1 to nMerges) {
        val top = cur.filter(size(col("syms")) >= 2)
          .select(col("cnt"), expr(
            "explode(transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)))")
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect()
        // cur's cache is materialized now; its parent has no reader left
        parent.foreach(_.unpersist())
        parent = None
        require(top.nonEmpty,
          s"BPE training exhausted adjacent pairs after ${k - 1} merges " +
            s"(asked for $nMerges) — every word is a single symbol")
        val (l, r) = (top.head.getString(0), top.head.getString(1))
        merges += ((l, r))
        if (k < nMerges) { // the last fused vocab is never re-scanned
          parent = Some(cur)
          cur = cur.withColumn("syms", bpeMerge(col("syms"), Seq((l, r))))
            .persist()
        }
      }
    } finally {
      parent.foreach(_.unpersist())
      cur.unpersist()
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      merges.zipWithIndex.map { case ((l, r), i) =>
        org.apache.spark.sql.Row((i + 1).toLong, l, r) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "merge_rank BIGINT NOT NULL, lhs STRING NOT NULL, rhs STRING NOT NULL"))
  }

  /** Per-ROW BPE segment ARRAY under PRE-TRAINED merges, as one Column:
    * split the text into words, symbolize each word, apply the merges
    * with the one kernel ([[graft.functions.BpeMerge]]) and flatten, so
    * the stream is in word order. A pure projection (no explode, no
    * join, no shuffle), so the SAME expression runs on a batch frame
    * or an append-mode stream. A NULL or wordless text yields an EMPTY
    * array. A merge with a NULL or empty side raises
    * `IllegalArgumentException` here, before any Spark job. */
  def bpeSegmentsTrained(textColName: String,
                         merges: Seq[(String, String)]): Column =
    coalesce(
      flatten(transform(filter(split(col(textColName), " "), x => x =!= ""),
        w => bpeMerge(charSyms(w), merges))),
      expr("CAST(array() AS ARRAY<STRING>)"))

  /** Per-ROW BPE token count under PRE-TRAINED merges: the size of
    * [[bpeSegmentsTrained]]'s array as BIGINT (0 for a NULL or
    * wordless text). */
  def bpeTokenCountTrained(textColName: String,
                           merges: Seq[(String, String)]): Column =
    size(bpeSegmentsTrained(textColName, merges)).cast("long")

  /** Segment the corpus with a learned merge list and count the
    * resulting BPE tokens per document: [[bpeTokenCountTrained]] over
    * every row. `idCol` must be a key (one row per id, non-NULL).
    * Wordless documents count 0. Returns (id, n_bpe). */
  def bpeSegmentCount(docs: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).as("id"),
      bpeTokenCountTrained(textCol, merges).as("n_bpe"))

  /** Materialized per-document BPE segment STREAMS under a learned
    * merge list: [[bpeSegmentsTrained]] over every row, so
    * `size(segs)` equals [[bpeSegmentCount]]'s `n_bpe`. `idCol` must be
    * a key (one row per id, non-NULL). Wordless documents keep an
    * EMPTY array. Returns (id, segs).
    *
    * This is the tokenize-then-MATERIALIZE shape
    * [[graft.operators.Curation.packShuffledBinsSegs]] consumes: bins
    * budgeted in real BPE units get their contents cut at BPE-segment
    * grain, not whitespace grain. */
  def bpeSegments(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).as("id"),
      bpeSegmentsTrained(textCol, merges).as("segs"))

  /** GOPHER-style quality-rule bundle (Rae et al. 2021, the standard
    * pre-training document filter set), reduced to EXACT-INTEGER per-row
    * flags — every ratio rule is a cross-multiplication, so there is no
    * float boundary for two engines to disagree on:
    *  - word count within [minWords, maxWords];
    *  - mean word length within [minMeanLen, maxMeanLen]
    *    (`minMeanLen·n ≤ Σlen ≤ maxMeanLen·n`);
    *  - at least `minStopwords` DISTINCT stopwords present (the
    *    "real prose" signal);
    *  - ≥ 80% of words contain an alphabetic character (`5·alpha ≥ 4·n`);
    *  - ≤ 10% pure-symbol words (`10·sym ≤ n`).
    * Emits one row per doc with the inputs, each rule flag (int 0/1)
    * and the composite `keep`. Pure per-row projection — apply as a
    * batch filter or unchanged on an append-mode stream. */
  /** The five Gopher rule parameters as one value — threads the bundle
    * through composition points ([[gopherKeep]], the streaming
    * [[graft.streaming.StreamingOps.curateStream]] gate) without
    * five-arg plumbing. Defaults match [[gopherQualityFlags]]. */
  final case class GopherRules(minWords: Int = 50, maxWords: Int = 100000,
                               minMeanLen: Int = 3, maxMeanLen: Int = 10,
                               minStopwords: Int = 2)

  /** The rule INPUTS over a text Column — (n_words, Σ word chars,
    * distinct stopwords, alphabetic words, pure-symbol words), shared by
    * the flags relation and the composite [[gopherKeep]] gate so the two
    * can never drift. */
  private def gopherCounts(text: Column)
      : (Column, Column, Column, Column, Column) = {
    val w = tokens(text)
    val n = size(w).cast("long")
    val chars = aggregate(transform(w, x => length(x).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nStop = size(array_intersect(array_distinct(w),
      typedLit(stopwords))).cast("long")
    val nAlpha = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nSym = size(filter(w,
      x => x =!= "" && !x.rlike("[a-zA-Z0-9]"))).cast("long")
    (n, chars, nStop, nAlpha, nSym)
  }

  /** The composite Gopher keep decision as ONE boolean Column — the
    * filter-predicate form of [[gopherQualityFlags]]'s `keep` (exact
    * same cross-multiplied integer rules), usable as a batch filter or
    * unchanged on an append-mode stream. */
  def gopherKeep(text: Column, rules: GopherRules = GopherRules()): Column = {
    val (n, chars, nStop, nAlpha, nSym) = gopherCounts(text)
    n >= rules.minWords && n <= rules.maxWords &&
      chars >= lit(rules.minMeanLen.toLong) * n &&
      chars <= lit(rules.maxMeanLen.toLong) * n &&
      nStop >= rules.minStopwords &&
      nAlpha * 5 >= n * 4 && nSym * 10 <= n
  }

  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Int = 3, maxMeanLen: Int = 10,
                         minStopwords: Int = 2): DataFrame = {
    val (n, chars, nStop, nAlpha, nSym) = gopherCounts(col(textCol))
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    val fWords = flag(n >= minWords && n <= maxWords)
    val fMean = flag(chars >= lit(minMeanLen.toLong) * n &&
      chars <= lit(maxMeanLen.toLong) * n)
    val fStop = flag(nStop >= minStopwords)
    val fAlpha = flag(nAlpha * 5 >= n * 4)
    val fSym = flag(nSym * 10 <= n)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), n.as("n_words"), chars.as("n_chars"),
        nStop.as("n_stopwords"),
        fWords.as("flag_words"), fMean.as("flag_mean_len"),
        fStop.as("flag_stopwords"), fAlpha.as("flag_alpha"),
        fSym.as("flag_symbols"),
        (fWords * fMean * fStop * fAlpha * fSym).as("keep"))
  }

  /** TF-IDF keyword extraction: the top-k most characteristic tokens per
    * document — the classic content-tagging / topic-surfacing op of a
    * curation pipeline. `score = tf × idf` with the smoothed
    * `idf = ln((N+1)/(df+1))` quantized to integer micro-nats, so the
    * per-doc ranking (score desc, token asc) is exact and deterministic
    * cross-engine — `tf` (BIGINT) times `idf_micro` (BIGINT) never
    * touches float arithmetic.
    *
    * Scale shape: one token-grain shuffle builds per-(doc, token) term
    * frequencies; document frequencies fall out of THAT frame with one
    * token-grain aggregate (tf rows are already distinct per doc — no
    * second corpus pass); the corpus size joins as a broadcast 1-row
    * aggregate; the final top-k is a per-doc window over the doc's own
    * distinct tokens. No driver-side state at any corpus size. */
  def tfIdfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("tok"),
        (col("tf") * round(log((col("n_docs") + lit(1L)).cast("double") /
            (col("df") + lit(1L)).cast("double")) * 1e6).cast("long"))
          .as("score_micro"))
    val byDoc = Window.partitionBy("id")
      .orderBy(col("score_micro").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(byDoc).cast("int"))
      .filter(col("rnk") <= k)
      .select("id", "tok", "rnk", "score_micro")
  }

  /** Documents per label (the prior's counts), collected — L rows. A
    * NULL label fails: it would score as a class of its own. */
  private def labelDocs(docs: DataFrame, labelCol: String): Map[String, Long] = {
    val byLabel = docs.groupBy(col(labelCol).cast("string")).count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    require(!byLabel.contains(None),
      s"training labels must be non-NULL: column '$labelCol' holds NULL")
    byLabel.map { case (l, c) => l.get -> c }
  }

  /** The log-priors ln(cdocs/n_docs) in micro-nats. */
  private def logPriors(cdocs: Map[String, Long]): Map[String, Long] = {
    val n = cdocs.values.sum
    cdocs.map { case (l, c) => l -> micro(c, n) }
  }

  /** The kernel table of a Laplace-smoothed label-count classifier (NB
    * over vocabulary tokens, hashed-linear over slots): per label l, a
    * key counted c times weighs ln((c+1)/(ctot_l+k+1)), an unseen key
    * ln(1/(ctot_l+k+1)), and every row starts from the log-prior. */
  private def labelCountTable[K](labels: Seq[String], counts: Map[(String, K), Long],
                                 ctot: Map[String, Long], prior: Map[String, Long],
                                 k: Long): LookupSum.Model = {
    val den = labels.map(l => ctot(l) + k + 1L)
    val byKey = counts.groupBy(_._1._2).map { case (key, rows) =>
      key -> labels.indices.map(i =>
        micro(rows.getOrElse((labels(i), key), 0L) + 1L, den(i)))
    }
    LookupSum.Model(1, None, Seq(LookupSum.Level(0, 1, byKey)),
      den.map(micro(1L, _)), labels.map(prior))
  }

  /** A trained multinomial Naive Bayes text classifier held on the
    * driver — the artifact of [[nbTrain]]: `vocab` the top-V vocabulary,
    * `clsTok` per-(label, tok) counts over vocab tokens, `clsTot`
    * per-label TOTAL token counts (OOV included — the multinomial
    * denominator), `prior` the log-prior in integer micro-nats, `vSize`
    * the vocabulary size. All are bounded by V (vocabulary) × L
    * (labels). `labels` (ascending) index every score array. */
  final case class NbModel(vocab: Seq[String], clsTok: Map[(String, String), Long],
                           clsTot: Map[String, Long], prior: Map[String, Long],
                           vSize: Long) extends TextModel {
    val labels: Seq[String] = clsTot.keys.toSeq.sorted
    private[operators] lazy val table: LookupSum.Model =
      labelCountTable(labels, clsTok, clsTot, prior, vSize)
  }

  /** Train a multinomial Naive Bayes classifier over labeled documents
    * (the model-based quality/domain filter of a curation pipeline —
    * CCNet/fastText shape, reduced to pure count aggregates so training
    * is exact, distributed, and SQL-replayable). Three bounded
    * aggregates, collected: the vocabulary, the per-(label, token)
    * counts, the per-label DOCUMENT counts behind the priors. Laplace
    * (add-one) smoothing throughout: P(tok|c) = (ctk+1)/(ctot+V+1), with
    * every token outside the top-V vocabulary falling to the OOV mass
    * 1/(ctot+V+1). Probabilities are quantized to integer MICRO-NATS
    * ([[micro]], the [[unigramLogProb]] envelope). A NULL label fails. */
  def nbTrain(docs: DataFrame, textCol: String, labelCol: String,
              vocabSize: Int = 1000): NbModel = {
    val vocab = topVocab(docs, textCol, vocabSize).map(_._1)
    val cdocs = labelDocs(docs, labelCol)
    // (label, vocab token or NULL for OOV) -> count
    val counts = docs.select(col(labelCol).cast("string").as("label"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("label"),
        when(col("tok").isInCollection(vocab), col("tok")).as("tok"))
      .count().collect()
      .map(r => (r.getString(0), Option(r.getString(1))) -> r.getLong(2))
    NbModel(vocab,
      counts.collect { case ((l, Some(t)), c) => (l, t) -> c }.toMap,
      counts.groupMapReduce(_._1._1)(_._2)(_ + _), logPriors(cdocs),
      vocab.size.toLong)
  }

  /** Score documents against every class of a trained [[NbModel]] and
    * keep the argmax: predicted label + its total score in micro-nats.
    * Ties break to the lexicographically smallest label (exact in
    * integer space, so deterministic cross-engine). One per-row
    * projection over [[textScores]] — no join, no shuffle — so the same
    * entry classifies a stream. NULL-text rows are absent. */
  def nbPredict(model: NbModel, docs: DataFrame, idCol: String,
                textCol: String): DataFrame =
    predicted(model, model.labels, docs, idCol, textCol)

  /** Persist a trained [[NbModel]] as parquet under `dir` (the
    * train-once / serve-everywhere artifact: a later batch job, a
    * streaming query, or another cluster loads it without re-reading
    * the training corpus). Four tiny V×L-bounded tables plus a 1-row
    * meta frame carrying `vSize`; written with overwrite so recomputed
    * models replace cleanly. */
  def saveNbModel(model: NbModel, dir: String): Unit = {
    saveTable(model.vocab.map(Tuple1(_)), s"$dir/vocab", "tok STRING NOT NULL")
    saveTable(model.clsTok.toSeq.map { case ((l, t), c) => (l, t, c) },
      s"$dir/cls_tok", "label STRING, tok STRING NOT NULL, ctk BIGINT NOT NULL")
    saveLabelTables(model.clsTot, model.prior, dir)
    saveTable(Seq(Tuple1(model.vSize)), s"$dir/meta", "v_size BIGINT NOT NULL")
  }

  /** Overwrite one persisted model table, `ddl` its parquet schema. */
  private def saveTable(rows: Seq[Product], path: String, ddl: String): Unit =
    org.apache.spark.sql.SparkSession.active.createDataFrame(
        java.util.Arrays.asList(rows.map(org.apache.spark.sql.Row.fromTuple): _*),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .write.mode("overwrite").parquet(path)

  /** The per-label tables both classifiers persist: `cls_tot` and
    * `prior`. */
  private def saveLabelTables(clsTot: Map[String, Long], prior: Map[String, Long],
                              dir: String): Unit = {
    saveTable(clsTot.toSeq, s"$dir/cls_tot", "label STRING, ctot BIGINT NOT NULL")
    saveTable(prior.toSeq, s"$dir/prior", "label STRING, prior_micro BIGINT")
  }

  /** A persisted model table's rows, collected. */
  private def loadTable(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(path).collect().toSeq

  /** `label → value` of a persisted per-label table. */
  private def loadByLabel(spark: org.apache.spark.sql.SparkSession, path: String,
                          col: String): Map[String, Long] =
    loadTable(spark, path).map(r => r.getAs[String]("label") -> r.getAs[Long](col)).toMap

  /** Load a model persisted by [[saveNbModel]]; predictions from the
    * loaded model are bit-equal to the in-memory one (exact integer
    * tables round-trip through parquet unchanged). */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession,
                  dir: String): NbModel =
    NbModel(
      vocab = loadTable(spark, s"$dir/vocab").map(_.getAs[String]("tok")),
      clsTok = loadTable(spark, s"$dir/cls_tok").map(r => (r.getAs[String]("label"),
        r.getAs[String]("tok")) -> r.getAs[Long]("ctk")).toMap,
      clsTot = loadByLabel(spark, s"$dir/cls_tot", "ctot"),
      prior = loadByLabel(spark, s"$dir/prior", "prior_micro"),
      vSize = loadTable(spark, s"$dir/meta").head.getAs[Long]("v_size"))

  /** Collect [[trainBpeMerges]]' (merge_rank, lhs, rhs) frame into the
    * ordered in-memory merge list the apply-side helpers take — the ONE
    * place that knows that frame's column layout, so a schema change
    * cannot silently desync the call sites ([[loadBpeMerges]] is the
    * persistence-format twin). */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy("merge_rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Persist a trained BPE merge list ([[trainBpeMerges]]) as parquet —
    * the tokenizer's train-once / serve-everywhere artifact (the same
    * contract as [[saveNbModel]]): rank-ordered (lhs, rhs) pairs whose
    * ORDER is the greedy-application order, so the rank column is
    * explicit and the loader restores it exactly. Overwrites. */
  def saveBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "lhs", "rhs")
      .write.mode("overwrite").parquet(dir)
  }

  /** Load merges persisted by [[saveBpeMerges]]; applying the loaded
    * list ([[bpeTokenCountTrained]], [[graft.streaming.StreamingOps
    * .bpeCountStream]]) is bit-equal to the in-memory one (strings
    * round-trip parquet unchanged, order restored by rank). */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** Train-and-self-classify in one plan (the oracle-able composition;
    * serving splits into [[nbTrain]] + [[nbPredict]]). */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String, vocabSize: Int = 1000): DataFrame =
    nbPredict(nbTrain(docs, textCol, labelCol, vocabSize),
      docs, idCol, textCol)

  /** The argmax label of a [[textScores]] array — score-desc/label-asc
    * tie-break (`array_position` returns the FIRST max and `labels` is
    * ascending). `scores` must be a bound column: it is read twice. */
  def predictedLabel(scores: Column, labels: Seq[String]): Column =
    element_at(typedLit(labels),
      array_position(scores, array_max(scores)).cast("int"))

  /** `(id, pred, score_micro)` of a classifier over non-NULL text. */
  private def predicted(model: TextModel, labels: Seq[String], docs: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    scored(model, docs, idCol, textCol)
      .select(col("id"), predictedLabel(col("__s"), labels).as("pred"),
        array_max(col("__s")).as("score_micro"))

  /** `(id, __s)`: each row's [[textScores]], NULL-text rows dropped by an
    * explode rather than a filter — Catalyst pushes a filter below the
    * projections that compute the text, evaluating them twice. */
  private def scored(model: TextModel, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(filter(
      array(textScores(model, col(textCol))), _.isNotNull)).as("__s"))

  // ---- fastText-style hashed n-gram LINEAR classifier -----------------

  /** The deployable artifact of [[hashedLinearTrain]], held on the
    * driver — the fastText-shaped quality/domain router: linear
    * inference over HASHED unigram + bigram features (the hashing trick
    * bounds the feature space at `buckets` slots regardless of corpus
    * vocabulary, so the model is O(buckets × labels) at ANY corpus scale
    * — no vocabulary selection pass, bigrams included for word order).
    * `bucketTok` per-(label, slot) counts, `clsTot` per-label total
    * feature counts, `prior` the log-prior in micro-nats. Training is
    * closed-form count aggregation (the NB likelihood over the hashed
    * feature space — exact, distributed, SQL-replayable) rather than
    * fastText's SGD, which no second engine could replay; inference is
    * the same dot-product-plus-bias linear form fastText serves.
    * `labels` (ascending) index every score array. */
  final case class HashedLinearModel(bucketTok: Map[(String, Long), Long],
                                     clsTot: Map[String, Long],
                                     prior: Map[String, Long], buckets: Int,
                                     seed: String) extends TextModel {
    val labels: Seq[String] = clsTot.keys.toSeq.sorted
    private[operators] lazy val table: LookupSum.Model =
      labelCountTable(labels, bucketTok, clsTot, prior, buckets.toLong)
    private[operators] override def keys(text: Column): Column =
      featureSlots(text, buckets, seed)
  }

  /** Per-feature hash slot: 52-bit md5 prefix of (seed, feature) mod
    * `buckets` — the [[hashedBigramScore]] idiom, portable to any
    * md5-capable engine (13 hex chars keep every intermediate below
    * 2^53). */
  private def featureSlot(f: Column, buckets: Int, seed: String): Column =
    pmod(conv(substring(md5(concat(lit(seed), lit("_"), f)), 1, 13),
      16, 10).cast("long"), lit(buckets.toLong))

  /** A document's hashed feature-slot array: unigrams plus adjacent
    * bigrams (`w1_w2`), each through [[featureSlot]] — pure per-row
    * array arithmetic (stream-safe). */
  private def featureSlots(text: Column, buckets: Int,
                           seed: String): Column = {
    val w = tokens(text)
    val bigrams = zip_with(slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit("_"), b))
    transform(concat(w, bigrams), f => featureSlot(f, buckets, seed))
  }

  /** Train the hashed linear classifier: one feature-grain aggregate to
    * per-(label, slot) counts (per-label totals are their sums) plus the
    * document-count priors, both collected — O(buckets × labels).
    * Laplace smoothing over the BUCKET space:
    * `w(slot|l) = ln((ctk+1)/(ctot+buckets+1))` in integer micro-nats;
    * slots never seen under a label fall to the default mass
    * `ln(1/(ctot+buckets+1))`. A NULL label fails. */
  def hashedLinearTrain(docs: DataFrame, textCol: String,
                        labelCol: String, buckets: Int = 4096,
                        seed: String = "hl"): HashedLinearModel = {
    require(buckets > 0, "buckets must be positive")
    val cdocs = labelDocs(docs, labelCol)
    val bucketTok = docs.select(col(labelCol).cast("string").as("label"),
        explode(featureSlots(col(textCol), buckets, seed)).as("slot"))
      .groupBy("label", "slot").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    HashedLinearModel(bucketTok,
      bucketTok.groupMapReduce(_._1._1)(_._2)(_ + _), logPriors(cdocs),
      buckets, seed)
  }

  /** Score documents against every class and keep the argmax — the
    * [[nbPredict]] contract (score desc, label asc; NULL text absent;
    * one per-row projection, stream-safe). */
  def hashedLinearPredict(model: HashedLinearModel, docs: DataFrame,
                          idCol: String, textCol: String): DataFrame =
    predicted(model, model.labels, docs, idCol, textCol)

  /** `score(target) − max_{l≠target} score(l)` over a bound
    * [[textScores]] array of a model with `labels` — the Column form of
    * [[hashedLinearMargin]]. Fails when it is built if `target` is not a
    * label or is the only one. */
  def scoreMargin(scores: Column, labels: Seq[String], target: String): Column = {
    val ti = labels.indexOf(target)
    require(ti >= 0, s"margin target '$target' is not a model label " +
      s"(${labels.mkString(",")})")
    require(labels.size >= 2, s"margin target '$target' is the only label")
    element_at(scores, ti + 1) - array_max(concat(slice(scores, 1, ti),
      slice(scores, ti + 2, labels.size - ti - 1)))
  }

  /** Binary-selection MARGIN of `target` against the best OTHER label,
    * in exact integer micro-nats: `(id, margin)` with `margin =
    * score(target) − max_{l≠target} score(l)` per document — positive
    * means the classifier would pick `target`. This is the quantity a
    * DCLM-style data-selection pipeline thresholds on (argmax alone
    * cannot trade precision against recall). One per-row projection, so
    * the same entry gates a stream. An unknown or sole target fails
    * before any job; NULL-text rows are absent. */
  def hashedLinearMargin(model: HashedLinearModel, docs: DataFrame,
                         idCol: String, textCol: String,
                         target: String): DataFrame = {
    val margin = scoreMargin(col("__s"), model.labels, target)
    scored(model, docs, idCol, textCol).select(col("id"), margin.as("margin"))
  }

  /** Classifier calibration: the threshold sweep a selection pipeline
    * runs before choosing its operating point. For each candidate
    * threshold, a row is SELECTED iff `scoreCol >= thr`; the sweep
    * returns exact TP/FP/FN counts against the boolean `positiveCol`
    * plus integer micro-unit precision (`1e6·tp/(tp+fp)`, defined as
    * 1e6 for an empty selection) and recall (`1e6·tp/(tp+fn)`, 1e6
    * when no positives exist). Scale shape: thresholds are a tiny
    * literal list — the explode fans each row into |T| flag tuples
    * that partial aggregation collapses map-side to |T| rows per
    * partition, so the shuffle carries |T|×partitions rows regardless
    * of corpus size. NULL scores/labels fail loudly (a silent drop
    * would skew every count). */
  def calibrationSweep(scored: DataFrame, scoreCol: String,
                       positiveCol: String,
                       thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "calibrationSweep needs >= 1 threshold")
    require(thresholds == thresholds.distinct.sorted,
      "thresholds must be strictly increasing")
    scored
      .select(col(scoreCol).cast("long").as("__gf_s"),
        col(positiveCol).cast("boolean").as("__gf_p"))
      .filter(when(col("__gf_s").isNull || col("__gf_p").isNull,
        raise_error(lit("calibrationSweep: NULL score or label")))
        .otherwise(lit(true)).cast("boolean"))
      .select(explode(typedLit(thresholds)).as("thr"),
        col("__gf_s"), col("__gf_p"))
      .groupBy("thr")
      .agg(
        sum(when(col("__gf_s") >= col("thr") && col("__gf_p"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__gf_s") >= col("thr") && !col("__gf_p"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__gf_s") < col("thr") && col("__gf_p"), 1L)
          .otherwise(0L)).as("fn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0L, lit(1000000L))
          .otherwise(expr("tp * 1000000L div (tp + fp)"))
          .as("precision_micro"),
        when(col("tp") + col("fn") === 0L, lit(1000000L))
          .otherwise(expr("tp * 1000000L div (tp + fn)"))
          .as("recall_micro"))
  }

  /** Train-and-self-classify in one plan (the oracle-able composition;
    * serving splits into [[hashedLinearTrain]] +
    * [[hashedLinearPredict]]). */
  def hashedLinearClassify(docs: DataFrame, idCol: String, textCol: String,
                           labelCol: String, buckets: Int = 4096,
                           seed: String = "hl"): DataFrame =
    hashedLinearPredict(
      hashedLinearTrain(docs, textCol, labelCol, buckets, seed),
      docs, idCol, textCol)

  /** Pick the OPERATING threshold from a [[calibrationSweep]] frame:
    * the smallest threshold whose precision reaches
    * `minPrecisionMicro` — smallest because precision climbs and
    * recall falls with the threshold, so the qualifying minimum keeps
    * the most recall at the required precision. The sweep is
    * candidate-threshold-sized (a literal list) — collecting it is
    * O(|T|) at any corpus scale. Fails loudly when no candidate
    * qualifies (silently selecting nothing would look like an empty
    * corpus downstream). */
  def pickThreshold(sweep: DataFrame, minPrecisionMicro: Long): Long = {
    val qual = sweep.filter(col("precision_micro") >= minPrecisionMicro)
      .agg(min(col("thr"))).head()
    require(!qual.isNullAt(0),
      s"pickThreshold: no candidate threshold reaches precision " +
        s"$minPrecisionMicro micro — widen the sweep or lower the target")
    qual.getLong(0)
  }

  /** Column names the rank-eval internals claim — a `byCols` name
    * colliding with one would be silently REPLACED mid-pipeline
    * (withColumn) or duplicated, corrupting the grouping; refused
    * loudly instead (the r5 as-of-join disjoint-names convention). */
  private val EvalInternalNames: Set[String] = Set(
    "part", "p", "g", "cnt", "pcnt", "pc", "pp", "pg", "part_off",
    "neg_lt", "above_all", "above_pos", "better_all", "better_pos",
    "rn_all", "rn_pos", "r", "i", "term_micro", "n_pos", "n_neg", "n",
    "auc_num", "auc_den", "auc_micro", "sum_term_micro", "ap_micro")

  private def requireEvalByCols(byCols: Seq[String], op: String): Unit =
    byCols.foreach(c => require(!c.startsWith("__") &&
        !EvalInternalNames(c),
      s"$op: byCols name '$c' collides with an internal column — " +
        "rename the grouping column"))

  /**
   * EXACT average precision (the PR-curve summary, [[rocAuc]]'s
   * companion): AP = (1/P) · Σ_{i=1..P} i / r_i over the positives,
   * where r_i is the i-th positive's 1-based rank in the TOTAL order
   * (score DESC, id ASC — deterministic under ties, pinned here rather
   * than sklearn's interpolation variants). Each term is quantized
   * exactly — `term_micro = floor(i·10^6 / r_i)` — and the output row
   * carries (n_pos, n, sum_term_micro, ap_micro = floor(Σ/P)): every
   * intermediate is an integer, so the DuckDB replay is bit-exact.
   * One output row per `byCols` group; zero-positive groups surface
   * NULL ap_micro. NULL scores/labels/ids raise.
   *
   * Scale shape: ranks decompose as (rows with a strictly better
   * score) + (row_number within the score group by id) — the first
   * term is a score-grain cumulative sum computed with the SAME
   * two-phase prefix-sum scaffolding as [[rocAuc]] (truncating-div
   * parts are monotone over the signed range), the second a window
   * partitioned by (group, score). No corpus-sized single-partition
   * stage even with all-distinct micro-nat scores.
   */
  def averagePrecision(scored: DataFrame, scoreCol: String,
                       posCol: String, idCol: String,
                       byCols: Seq[String] = Nil,
                       partSpan: Long = 1L << 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partSpan > 0, "partSpan must be > 0")
    requireEvalByCols(byCols, "averagePrecision")
    val keys = byCols.map(col)
    val base = scored.select(keys ++ Seq(
      when(col(scoreCol).isNull,
          raise_error(lit("averagePrecision: NULL score")))
        .otherwise(col(scoreCol)).cast("long").as("__s"),
      when(col(posCol).isNull,
          raise_error(lit("averagePrecision: NULL label")))
        .otherwise(col(posCol)).cast("boolean").as("__pos"),
      when(col(idCol).isNull,
          raise_error(lit("averagePrecision: NULL id")))
        .otherwise(col(idCol)).cast("long").as("__id")): _*)
    // score-grain totals; parts ASCEND with __s but ranks DESCEND, so
    // the "strictly better" cumsum runs over the REVERSED part order
    val per = base.groupBy(keys :+ col("__s"): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("pcnt"))
      .withColumn("part", expr(s"__s div ${partSpan}L"))
    val partTotals = per.groupBy(keys :+ col("part"): _*)
      .agg(sum(col("cnt")).as("pc"), sum(col("pcnt")).as("pp"))
    val desc = Window.partitionBy(keys: _*).orderBy(col("part").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val partOffsets = partTotals
      .withColumn("above_all", coalesce(sum(col("pc")).over(desc), lit(0L)))
      .withColumn("above_pos", coalesce(sum(col("pp")).over(desc), lit(0L)))
    val withinDesc = Window.partitionBy(keys :+ col("part"): _*)
      .orderBy(col("__s").desc).rowsBetween(Window.unboundedPreceding, -1)
    val scoreBetter = per
      .join(broadcast(partOffsets.select(keys :+ col("part") :+
        col("above_all") :+ col("above_pos"): _*)), byCols :+ "part")
      .withColumn("better_all",
        col("above_all") + coalesce(sum(col("cnt")).over(withinDesc), lit(0L)))
      .withColumn("better_pos",
        col("above_pos") + coalesce(sum(col("pcnt")).over(withinDesc), lit(0L)))
      .select(keys ++ Seq(col("__s"), col("better_all"), col("better_pos")): _*)
    // per-row rank (and per-positive index i) = strictly-better counts
    // + the within-score id order; only positives contribute terms
    val byScore = Window.partitionBy(keys :+ col("__s"): _*).orderBy("__id")
    val posRanked = base
      .withColumn("rn_all", row_number().over(byScore).cast("long"))
      .withColumn("rn_pos",
        sum(when(col("__pos"), 1L).otherwise(0L)).over(
          byScore.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__pos"))
      .join(scoreBetter, byCols :+ "__s")
      .select(keys ++ Seq(
        (col("better_all") + col("rn_all")).as("r"),
        (col("better_pos") + col("rn_pos")).as("i")): _*)
    val posAgg = posRanked
      .select(keys :+ expr("(i * 1000000L) div r").as("term_micro"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_pos"),
        sum(col("term_micro")).as("sum_term_micro"))
    val totals = base.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    // groups with ZERO positives vanish from posAgg (the positive
    // filter) — keep them from the totals side with NULL ap_micro
    val joined =
      if (byCols.isEmpty) posAgg.crossJoin(totals)
      else totals.join(posAgg, byCols, "left")
    joined.select(keys ++ Seq(
      coalesce(col("n_pos"), lit(0L)).as("n_pos"), col("n"),
      coalesce(col("sum_term_micro"), lit(0L)).as("sum_term_micro"),
      when(coalesce(col("n_pos"), lit(0L)) > 0,
        expr("sum_term_micro div n_pos")).as("ap_micro")): _*)
  }

  /**
   * EXACT ROC AUC by the Mann-Whitney rank-sum identity with
   * average-rank tie handling — the threshold-free completion of the
   * [[calibrationSweep]] evaluation loop: AUC = P(score⁺ > score⁻) +
   * ½·P(score⁺ = score⁻), computed as exact integer pair counts.
   * Per distinct score s with p_s positives and g_s negatives:
   * concordant pairs Σ p_s·negBelow(s) plus tie pairs ½·Σ p_s·g_s, over
   * n_pos·n_neg total — returned as the REDUCED-FREE integer pair
   * (auc_num = 2·Σ p_s·negBelow + Σ p_s·g_s, auc_den = 2·n_pos·n_neg)
   * so the value is exact in any engine, plus the floor-divided
   * `auc_micro`. Doubling clears the half-tie term — this IS the
   * average-rank Mann-Whitney statistic. One output row per `byCols`
   * group (a single global row when empty); `auc_micro`/`auc_den` are
   * NULL/0 when a group lacks both classes. NULL scores or labels
   * raise.
   *
   * Scale shape: one shuffle to score-grain (p_s, g_s) aggregates,
   * then the negBelow prefix sum runs TWO-PHASE exactly like the
   * packing operators' [[graft.operators.Curation.packOffsets]]
   * scaffolding — per-part totals (the only cross-part window runs
   * over one row per `partSpan` score range) and a within-part running
   * sum — so no corpus-sized single-partition window exists even when
   * every document's micro-nat score is distinct. Truncating `div` is
   * monotone non-decreasing over the full signed range, so part is a
   * valid coarse range of the score order for negative scores too.
   * BIGINT envelope: exact while n_pos·n_neg < 2^62 (≈ 2 billion docs
   * per class per group — beyond any real evaluation set; DuckDB
   * raises rather than wraps if ever exceeded).
   */
  def rocAuc(scored: DataFrame, scoreCol: String, posCol: String,
             byCols: Seq[String] = Nil,
             partSpan: Long = 1L << 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partSpan > 0, "partSpan must be > 0")
    requireEvalByCols(byCols, "rocAuc")
    val keys = byCols.map(col)
    val base = scored.select(keys ++ Seq(
      when(col(scoreCol).isNull,
          raise_error(lit("rocAuc: NULL score"))).otherwise(col(scoreCol))
        .cast("long").as("__s"),
      when(col(posCol).isNull,
          raise_error(lit("rocAuc: NULL label"))).otherwise(col(posCol))
        .cast("boolean").as("__pos")): _*)
    val per = base.groupBy(keys :+ col("__s"): _*)
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("g"))
      .withColumn("part", expr(s"__s div ${partSpan}L"))
    val partTotals = per.groupBy(keys :+ col("part"): _*)
      .agg(sum(col("g")).as("pg"))
    val acrossParts = Window.partitionBy(keys: _*).orderBy("part")
      .rowsBetween(Window.unboundedPreceding, -1)
    val partOffsets = partTotals.withColumn("part_off",
      coalesce(sum(col("pg")).over(acrossParts), lit(0L)))
    val withinPart = Window.partitionBy(keys :+ col("part"): _*)
      .orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    val cum = per
      .join(broadcast(partOffsets.select(keys :+ col("part") :+
        col("part_off"): _*)), byCols :+ "part")
      .withColumn("neg_lt",
        col("part_off") + coalesce(sum(col("g")).over(withinPart), lit(0L)))
    cum.groupBy(keys: _*)
      .agg(sum(col("p")).as("n_pos"), sum(col("g")).as("n_neg"),
        sum(col("p") * lit(2L) * col("neg_lt") + col("p") * col("g"))
          .as("auc_num"))
      .withColumn("auc_den", col("n_pos") * col("n_neg") * lit(2L))
      .withColumn("auc_micro",
        when(col("auc_den") > 0,
          expr("(auc_num * 1000000L) div auc_den")))
  }

  /** Persist a trained [[HashedLinearModel]] under `dir` (the same
    * train-once / serve-everywhere contract as [[saveNbModel]]):
    * three bounded tables plus a 1-row meta frame (buckets, seed). */
  def saveHashedLinear(model: HashedLinearModel, dir: String): Unit = {
    saveTable(model.bucketTok.toSeq.map { case ((l, s), c) => (l, s, c) },
      s"$dir/bucket_tok", "label STRING, slot BIGINT, ctk BIGINT NOT NULL")
    saveLabelTables(model.clsTot, model.prior, dir)
    saveTable(Seq((model.buckets, model.seed)), s"$dir/meta",
      "buckets INT NOT NULL, seed STRING")
  }

  /** Load a model persisted by [[saveHashedLinear]]; predictions are
    * bit-equal to the in-memory one. */
  def loadHashedLinear(spark: org.apache.spark.sql.SparkSession,
                       dir: String): HashedLinearModel = {
    val meta = loadTable(spark, s"$dir/meta").head
    HashedLinearModel(
      bucketTok = loadTable(spark, s"$dir/bucket_tok").map(r => (r.getAs[String]("label"),
        r.getAs[Long]("slot")) -> r.getAs[Long]("ctk")).toMap,
      clsTot = loadByLabel(spark, s"$dir/cls_tot", "ctot"),
      prior = loadByLabel(spark, s"$dir/prior", "prior_micro"),
      buckets = meta.getAs[Int]("buckets"), seed = meta.getAs[String]("seed"))
  }
}
