package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, and document
  * fingerprinting. Everything is a composition of codegen'd built-ins
  * (higher-order array functions, regexes, xxhash64) — no UDFs, so the
  * whole pipeline stays inside whole-stage codegen and scales linearly
  * with executors: every function is a narrow per-row projection, zero
  * shuffles.
  */
object TextFunctions {

  // ------------------------------------------------------------ tokenizing

  /** Whitespace token count (the cheap estimator). */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Lowercased word tokens: runs of letters/digits (BPE-ish pre-token
    * split on non-alphanumerics).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** Sentence split on terminal-punctuation runs followed by whitespace
    * (`[.!?]+\s+`), empty/whitespace-only fragments dropped — the
    * Java-regex ∩ RE2 subset (no lookbehind), so any SQL engine replays
    * it. The trailing sentence keeps its final punctuation; interior
    * ones lose theirs to the delimiter — chunking cares about
    * boundaries, not the dots.
    */
  def sentences(text: Column): Column =
    filter(split(text, "[.!?]+\\s+"), x => length(trim(x)) > 0)

  /** GPT-2-style BPE pre-tokenization pattern, restricted to the
    * Java-regex ∩ RE2 subset (no lookahead — DuckDB/RE2 lacks it; the
    * original pattern's `\s+(?!\S)` trailing-space rule is dropped, a
    * documented simplification). Matches tile the whole string:
    * contractions, space-prefixed letter/digit runs, space-prefixed
    * punctuation runs, whitespace runs.
    */
  val BpePattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** BPE-ish pre-tokens (case-preserving, space-prefixed like GPT-2). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** BPE-ish token count — the closer-to-real cost estimator (whitespace
    * counting undercounts punctuation-heavy text, where BPE spends
    * tokens).
    */
  def bpeTokenCount(text: Column): Column =
    when(text.isNull, lit(null)).otherwise(size(bpeTokens(text)))

  /** Sliding n-windows of `toks` joined with spaces, built by zipping n
    * SHIFTED COPIES of the array. The copies are `zip_with` ARGUMENTS —
    * evaluated once per row — where the previous index-transform form
    * referenced `toks` inside the lambda BODY, which interpreted
    * higher-order eval re-computes PER ELEMENT: with `tokens(text)`
    * inlined at a call site that meant one full re-tokenization per
    * shingle (~250×/doc, the dominant cost of the whole prefix-join
    * family before this rewrite). Padding nulls from the shorter shifted
    * copies null out their windows via `concat`, and the final slice
    * trims them. Windows are identical strings to the old form for
    * null-free token arrays (all of this library's).
    */
  private def slidingJoin(toks: Column, n: Int): Column = {
    def win(j: Int): Column =
      if (j == 0) toks
      else slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0)))
    val joined = (1 until n).foldLeft(win(0)) { (acc, j) =>
      zip_with(acc, win(j), (a, b) => concat(a, lit(" "), b))
    }
    slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Word n-gram shingles of the token array; documents shorter than `n`
    * tokens yield one whole-document shingle. `toks` is referenced
    * several times in the expression tree — pass a materialized column
    * reference, never an inline `tokens(text)` (see [[graft.util.Explode]]
    * and the `FromToks` fingerprint variants below).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(slidingJoin(toks, n))

  /** Word n-grams joined with spaces; EMPTY for documents shorter than
    * `n` tokens (counting semantics — unlike `shingles`, which falls back
    * to one whole-document shingle for set-similarity semantics).
    * `toks` should be a materialized column reference (expression-tree
    * discipline, see SCALE.md).
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(slidingJoin(toks, n)) // see slidingJoin: args, not lambda refs

  /** Duplicate-n-gram fraction of a materialized n-gram column — the
    * C4/Gopher-style repetition signal (boilerplate and looping text show
    * high duplicate fractions). 0.0 for documents with no n-grams.
    */
  def dupFraction(grams: Column): Column =
    when(size(grams) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double")
        / size(grams).cast("double"))

  /** Deterministic content-hash train/val/test assignment — the split a
    * training pipeline needs to be stable across reruns AND engines
    * (md5-prefix arithmetic, reproducible in any SQL dialect; no RNG, no
    * row order dependence). Near-duplicate leakage across splits is the
    * caller's problem: dedup first, then split.
    *
    * NULL text returns NULL (not a silent bucket): a null document has no
    * content hash, so callers must decide its fate explicitly rather than
    * discover nulls pooled in one split.
    */
  def hashSplit(text: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val h = conv(substring(md5(text), 1, 8), 16, 10).cast("long") % 100
    when(text.isNotNull,
      when(h < trainPct, lit("train"))
        .when(h < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  // ------------------------------------------------------------- lang id

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * heuristic. Public knowledge (most frequent function words).
    */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den", "von", "sich"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no", "por", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans", "que", "pour"),
  )

  /** Fraction of tokens found in `words` (multiset-aware: counts every
    * occurrence, unlike array_intersect's set semantics).
    */
  def stopwordRatio(toks: Column, words: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(words.map(lit): _*)))
    when(size(toks) === 0, lit(0.0)).otherwise(hits.cast("double") / size(toks))
  }

  /** Fraction of CJK codepoints — scripts without whitespace tokenization
    * need a character-class signal, not stopwords.
    */
  def cjkRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))).cast("double")
          / length(text))

  /** Heuristic language ID: CJK-ratio gate for zh, else argmax of
    * stopword-profile hit ratios, `und` when nothing scores. One
    * projection — `greatest` over per-language structs keeps the argmax
    * in codegen.
    *
    * `toks` should be a materialized column of `tokens(text)` when
    * scoring many profiles (each profile references it; a raw expression
    * would be re-derived per profile — see SCALE.md expression-tree
    * discipline). `langId(text)` is the convenience form.
    */
  def langIdWith(toks: Column, text: Column): Column = {
    // the ("und", score 0) SENTINEL folds the old `best.score > 0` gate
    // into the argmax itself, so `best` is referenced exactly once — a
    // second getField would duplicate every per-profile stopword filter
    // lambda per row (the repeated-lambda audit class). Correct because
    // scores are ≥ 0 and every profile key sorts below "und", so an
    // all-zero row ties to the sentinel on the struct's lang field.
    assert(StopwordProfiles.keys.forall(_ < "und"),
      "profile keys must sort below the und sentinel")
    val scored = StopwordProfiles.toSeq.map { case (lang, words) =>
      struct(stopwordRatio(toks, words).as("score"), lit(lang).as("lang"))
    } :+ struct(lit(0.0).as("score"), lit("und").as("lang"))
    when(cjkRatio(text) > 0.3, lit("zh"))
      .otherwise(greatest(scored: _*).getField("lang"))
  }

  def langId(text: Column): Column = langIdWith(tokens(text), text)

  // ------------------------------------------------------- quality scoring

  /** Punctuation density over all characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
          / length(text))

  /** Mean token length in characters. Total token chars come from
    * `length(concat_ws("", toks))` — value-identical to summing each
    * token's length but with NO higher-order aggregate, so a consumer
    * that references the mean twice (a `between` band check) duplicates
    * a codegen'd concat instead of re-running an interpreted lambda per
    * row (the withLinearQuality idiom).
    */
  def meanTokenLenFromToks(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(length(concat_ws("", toks)).cast("double") / size(toks))

  /** Composite quality score in [0,1] — the classic pre-training filters
    * (length band, word shape, punctuation sanity, stopword signal), each
    * clamped to a sub-score and averaged. Thresholds are heuristic, the
    * shape (pure column expression, tune-by-config) is the point.
    *
    * Convenience form inlining `tokens(text)`; hot paths must stage the
    * token array and use [[qualityScoreFromToks]] (the score reads the
    * token array from several sub-scores — inlined, the interpreted
    * tokens() lambda re-runs per reference).
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromToks(tokens(text), text)

  /** [[qualityScore]] over a PRE-STAGED token column — the hot path. */
  def qualityScoreFromToks(toks: Column, text: Column): Column = {
    val nTok = wsTokenCount(text).cast("double")
    val lenScore = least(nTok / lit(20.0), lit(1.0)) // ≥20 tokens → full marks
    val mtl = meanTokenLenFromToks(toks)
    val shapeScore = when(mtl.between(3.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val punctScore = when(punctRatio(text) < 0.2, lit(1.0)).otherwise(lit(0.0))
    val stopScore = least(
      stopwordRatio(toks, StopwordProfiles("en")) * lit(5.0), lit(1.0))
    (lenScore + shapeScore + punctScore + stopScore) / lit(4.0)
  }

  // --------------------------------------------------- n-gram LM scoring

  /** Corpus-trained bigram language-model quality signal (the CCNet-style
    * "score documents by how typical their word transitions are" filter),
    * in EXACT integer arithmetic so the score hash-matches across
    * engines: for every bigram occurrence (a, b) in a document,
    *
    *   p_scaled = (1_000_000 · count(a, b)) div count(a)
    *
    * and the document reports (`n_bi`, `sum_p`) — occurrence count and
    * the sum of scaled conditional probabilities (callers divide for the
    * mean; keeping the exact sum avoids cross-engine float division).
    * Low sum/mean = unusual transitions = boilerplate, mojibake, or
    * wrong-language text relative to the corpus.
    *
    * Shape: two count aggregates over the exploded token/bigram streams,
    * two equi-joins keyed on the n-gram, one per-doc aggregate — every
    * step shuffle-bounded by distinct-n-gram cardinality, no driver
    * state, no floats. Documents with fewer than two tokens report
    * (0, 0).
    */
  def bigramLmScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    // the token relation feeds the unigram-count branch AND the bigram
    // stream (which is itself consumed by counts + the scored join) —
    // unpersisted, the interpreted tokenize pipeline re-runs per branch
    // (2× here, ×4 more when a caller like q111 fans the score table
    // into a multi-pass ntile — the cross-branch audit's 8× finding)
    // FanOut below the tokenize projection: the token/bigram explode and
    // both count aggregates inherit this relation's parallelism — a
    // one-file corpus otherwise runs them on 1-2 tasks (guide §2.5)
    val toksed = graft.util.FanOut(df.select(id.as("doc_id"), text.as("__txt")))
      .select(col("doc_id"), tokens(col("__txt")).as("__t"))
      .localCheckpoint(true) // blocks release with the result (GC)
    // explode_outer + null filter, NOT explode: InferFiltersFromGenerate
    // would inline the tokenization into an inferred pre-Generate filter
    // and re-run it per row (see graft.util.Explode)
    val uni = toksed.select(explode_outer(col("__t")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("__cu"))
    val big = toksed
      .select(col("doc_id"), explode_outer(ngrams(col("__t"), 2)).as("bg"))
      .filter(col("bg").isNotNull)
      .withColumn("w", split(col("bg"), " ")(0))
      // two consumers (bigram counts + the scored join): materialize
      // the exploded stream once instead of re-running the ngram lambda
      .localCheckpoint(true)
    val bgCounts = big.groupBy(col("bg")).agg(count(lit(1)).as("__cb"))
    val scored = big
      .join(bgCounts, Seq("bg"))
      .join(uni, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bi"),
        sum(expr("(1000000L * __cb) div __cu")).as("sum_p"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("sum_p"), lit(0L)).as("sum_p"))
  }

  // ------------------------------------------------------- fingerprinting

  /** Whole-document 64-bit fingerprint of whitespace-normalized text. */
  def docFingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /** Winnowed shingle fingerprint: min xxhash64 over word n-gram shingles
    * — a 1-permutation MinHash, stable under local edits far from the
    * minimum shingle (rolling-hash document sketching).
    *
    * Convenience form inlining `tokens(text)` — `shingles` references its
    * token argument ~n+2 times, so the interpreted tokens() lambda re-runs
    * per reference. Fine for tests/cold paths; hot paths must stage the
    * token array as a projection column and use
    * [[minShingleFingerprintFromToks]] (graft.util.Explode discipline).
    */
  def minShingleFingerprint(text: Column, n: Int = 5): Column =
    minShingleFingerprintFromToks(tokens(text), n)

  /** [[minShingleFingerprint]] over a PRE-STAGED token column — the hot
    * path: `toks` must be a materialized projection column (one tokens()
    * evaluation per row), not an inline lambda expression.
    */
  def minShingleFingerprintFromToks(toks: Column, n: Int = 5): Column =
    array_min(transform(shingles(toks, n), s => xxhash64(s)))

  /** Engine-portable 60-bit fingerprint: md5-prefix arithmetic any SQL
    * dialect can recompute (15 hex chars → always-positive BIGINT). The
    * xxhash64 fingerprints above stay the fast path — one hash pass vs
    * md5's four rounds — this one exists so fingerprints can be verified
    * and joined ACROSS engines (same trick as [[hashSplit]]).
    */
  def md5Fingerprint(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Portable whole-document fingerprint over normalized tokens. NULL
    * text → NULL (concat_ws would silently fold a null token array to ""
    * — a concrete fingerprint for a missing document, and a divergence
    * from any SQL oracle where md5(NULL) is NULL).
    */
  def docFingerprintPortable(text: Column): Column =
    when(text.isNotNull, md5Fingerprint(concat_ws(" ", tokens(text))))

  /** [[docFingerprintPortable]] over a PRE-STAGED token column (tokens()
    * of null text is null, so the null guard transfers to `toks`).
    */
  def docFingerprintPortableFromToks(toks: Column): Column =
    when(toks.isNotNull, md5Fingerprint(concat_ws(" ", toks)))

  /** Portable winnowed shingle fingerprint (min md5-prefix over word
    * n-gram shingles). NULL text → NULL (the short-doc shingle fallback
    * would otherwise fold a null token array into [""] and fingerprint
    * the empty string).
    */
  def minShingleFingerprintPortable(text: Column, n: Int = 5): Column =
    minShingleFingerprintPortableFromToks(tokens(text), n)

  /** [[minShingleFingerprintPortable]] over a PRE-STAGED token column —
    * the hot path (see [[minShingleFingerprintFromToks]]).
    */
  def minShingleFingerprintPortableFromToks(toks: Column, n: Int = 5): Column =
    when(toks.isNotNull,
      array_min(transform(shingles(toks, n), s => md5Fingerprint(s))))

  // ------------------------------------------- Gopher quality-rule flags

  /** The eight Gopher stopwords (Rae et al. 2021, table A1 rule set);
    * a document passing the stopword rule contains ≥ 2 distinct ones.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher repetition/quality rule family (Rae et al.
    * 2021), re-expressed as EXACT INTEGER comparisons so every flag is
    * engine-portable — no float ratios (mean-word-length ∈ [3,10] becomes
    * `3n ≤ chars ≤ 10n`, alphabetic-word fraction ≥ 0.8 becomes
    * `5·alpha ≥ 4n`, symbol-to-word ratio ≤ 0.1 becomes
    * `10·symbols ≤ n`). Line-shape rules (bullet/ellipsis line
    * fractions) are omitted: the gate corpus is single-line; add them
    * over `split(text, '\n')` when ingesting multi-line documents.
    *
    * Returns a struct of per-rule booleans + the conjunction `pass`.
    * Pure projection — zero shuffle, stays in codegen.
    */
  def gopherFlags(text: Column): Column = {
    val t = trim(text)
    val ws = split(t, "\\s+")
    val n = wsTokenCount(text).cast("long")
    // non-whitespace chars = total word length (no per-word pass needed)
    val chars = length(regexp_replace(t, "\\s+", "")).cast("long")
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val ellipses = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(transform(ws, w => lower(w)),
      array(GopherStopwords.map(lit): _*))).cast("long")
    val wcOk = n >= 50 && n <= 100000
    val mwlOk = chars >= n * 3 && chars <= n * 10
    val symOk = (hashes + ellipses) * 10 <= n
    val alphaOk = alphaWords * 5 >= n * 4
    val stopOk = stopHits >= 2
    struct(
      wcOk.as("wc_ok"), mwlOk.as("mwl_ok"), symOk.as("sym_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wcOk && mwlOk && symOk && alphaOk && stopOk).as("pass"))
  }

  /** [[gopherFlags]] with the heavy inputs STAGED as projection columns
    * — the hot path when a consumer reads more than one field of the
    * struct. `gopherFlags(text)` holds each rule's lambda inside the
    * struct twice (the rule's own field AND the `pass` conjunction), and
    * Catalyst's extract-only project collapsing re-inlines struct fields
    * through staging aliases — so a query extracting `alpha_ok` and
    * `pass` re-runs the alpha-word filter per row. Here the two
    * lambda-bearing counts (alpha words, stopword hits) and the three
    * regexp counts are their own columns; every flag is then cheap
    * integer arithmetic over attributes, duplicable for free.
    *
    * Returns `df` plus a struct column `outCol` with [[gopherFlags]]'s
    * exact fields and values.
    */
  def withGopherFlags(df: DataFrame, text: Column, outCol: String): DataFrame = {
    val staged = df
      .withColumn("__gf_t", trim(text))
      .withColumn("__gf_ws", split(col("__gf_t"), "\\s+"))
      .withColumn("__gf_n", wsTokenCount(text).cast("long"))
      .withColumn("__gf_chars",
        length(regexp_replace(col("__gf_t"), "\\s+", "")).cast("long"))
      .withColumn("__gf_sym",
        (length(col("__gf_t")) - length(regexp_replace(col("__gf_t"), "#", "")))
          .cast("long") +
        ((length(col("__gf_t")) -
          length(regexp_replace(col("__gf_t"), "\\.\\.\\.", ""))) / 3).cast("long"))
      .withColumn("__gf_aw",
        size(filter(col("__gf_ws"), w => w.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("__gf_sh",
        size(array_intersect(transform(col("__gf_ws"), w => lower(w)),
          array(GopherStopwords.map(lit): _*))).cast("long"))
    val n = col("__gf_n"); val chars = col("__gf_chars")
    val wcOk = n >= 50 && n <= 100000
    val mwlOk = chars >= n * 3 && chars <= n * 10
    val symOk = col("__gf_sym") * 10 <= n
    val alphaOk = col("__gf_aw") * 5 >= n * 4
    val stopOk = col("__gf_sh") >= 2
    staged
      .withColumn(outCol, struct(
        wcOk.as("wc_ok"), mwlOk.as("mwl_ok"), symOk.as("sym_ok"),
        alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
        (wcOk && mwlOk && symOk && alphaOk && stopOk).as("pass")))
      .drop("__gf_t", "__gf_ws", "__gf_n", "__gf_chars", "__gf_sym",
        "__gf_aw", "__gf_sh")
  }

  /** Fixed-weight linear quality classifier — the fastText-style "one
    * dot product per document" quality gate, in EXACT integer
    * arithmetic so score and decision hash-match across engines. The
    * feature vector is per-row-computable (token count capped at 100,
    * mean word length in centichars, distinct-stopword hits, duplicate
    * trigram basis points) and the score is
    *
    *   z = w·x + bias   (all integers; keep ⇔ z > 0)
    *
    * `weights` = (bias, w_wc, w_stop, w_mwl, w_dup3). The defaults are
    * STAND-IN weights chosen to split this corpus non-trivially; a real
    * pipeline supplies weights trained offline (the engine-side contract
    * — a codegen'd zero-shuffle projection — is identical for any
    * weight vector, which is the point: classifier inference at 100 TB
    * is a map, never a shuffle).
    */
  def linearQuality(
      text: Column,
      weights: (Long, Long, Long, Long, Long) = (-600L, 30L, 400L, -2L, -1L))
    : Column = {
    val (bias, wWc, wStop, wMwl, wDup3) = weights
    val toks = tokens(text)
    val wc = size(toks).cast("long")
    val chars = length(concat_ws("", toks)).cast("long")
    // floor of positive division == integer div; exact below 2^53
    val mwlCenti = when(wc === 0, lit(0L))
      .otherwise(floor(chars * 100 / wc).cast("long"))
    val stopD = size(array_intersect(toks,
      array(GopherStopwords.map(lit): _*))).cast("long")
    val g3 = ngrams(toks, 3)
    val dup3Bp = when(size(g3) === 0, lit(0L))
      .otherwise(floor((size(g3) - size(array_distinct(g3))).cast("long")
        * 10000 / size(g3)).cast("long"))
    val z = lit(bias) + least(wc, lit(100L)) * wWc + stopD * wStop +
      mwlCenti * wMwl + dup3Bp * wDup3
    struct(wc.as("wc"), mwlCenti.as("mwl_centi"), stopD.as("stop_d"),
      dup3Bp.as("dup3_bp"), z.as("z"), (z > 0).as("keep"))
  }

  /** `df` plus a column `outCol` holding the word-token n-gram array of
    * `text`, with the token array staged as its own projection column so
    * the interpreted `tokens` lambda runs ONCE per row (see
    * [[withLinearQuality]] for why repeated references re-evaluate).
    */
  def withTokenGrams(df: DataFrame, text: Column, n: Int, outCol: String)
    : DataFrame =
    df.withColumn("__tg_toks", tokens(text))
      .withColumn(outCol, ngrams(col("__tg_toks"), n))
      .drop("__tg_toks")

  /** [[linearQuality]] with the heavy intermediates evaluated ONCE per
    * row. The single-Column form repeats `tokens(text)` (an interpreted
    * higher-order `filter`) in every feature subtree and `ngrams` (an
    * interpreted `transform`) three times — Catalyst's subexpression
    * elimination does not reach CodegenFallback lambdas, so one z costs
    * ~8 interpreted tokenizations per row (measured: 9 ms/doc at sf0.1,
    * the whole of q204's former 164 s). Staging the token and trigram
    * arrays as their own projection columns pins each lambda to exactly
    * one evaluation — `CollapseProject` keeps the stages separate
    * because inlining a non-cheap expression used more than once is
    * against its own cost rule. Output values are bit-identical to
    * [[linearQuality]] (FunctionsSpec pins both to the same rows).
    *
    * Returns `df` plus a struct column `outCol` with the same fields as
    * [[linearQuality]]; input order and other columns are preserved.
    */
  def withLinearQuality(
      df: DataFrame, text: Column, outCol: String,
      weights: (Long, Long, Long, Long, Long) = (-600L, 30L, 400L, -2L, -1L))
    : DataFrame = {
    val (bias, wWc, wStop, wMwl, wDup3) = weights
    val staged = df
      .withColumn("__lq_toks", tokens(text))
      .withColumn("__lq_g3", ngrams(col("__lq_toks"), 3))
    val toks = col("__lq_toks"); val g3 = col("__lq_g3")
    val wc = size(toks).cast("long")
    val chars = length(concat_ws("", toks)).cast("long")
    val mwlCenti = when(wc === 0, lit(0L))
      .otherwise(floor(chars * 100 / wc).cast("long"))
    val stopD = size(array_intersect(toks,
      array(GopherStopwords.map(lit): _*))).cast("long")
    val dup3Bp = when(size(g3) === 0, lit(0L))
      .otherwise(floor((size(g3) - size(array_distinct(g3))).cast("long")
        * 10000 / size(g3)).cast("long"))
    val z = lit(bias) + least(wc, lit(100L)) * wWc + stopD * wStop +
      mwlCenti * wMwl + dup3Bp * wDup3
    staged
      .withColumn(outCol, struct(wc.as("wc"), mwlCenti.as("mwl_centi"),
        stopD.as("stop_d"), dup3Bp.as("dup3_bp"), z.as("z"),
        (z > 0).as("keep")))
      .drop("__lq_toks", "__lq_g3")
  }

  // ------------------------------------------------------- text cleaning

  /** Crawl-text cleaning chain: decode the five predefined HTML entities
    * (`&amp;` LAST, so double-encoded `&amp;lt;` single-decodes to
    * `&lt;` — the standard one-pass contract), strip C0 control chars
    * (TAB/LF/CR survive as whitespace), collapse whitespace runs to one
    * space, NFC-normalize, trim. Pure regexp projection + the
    * [[NfcNormalize]] expression — zero shuffle, engine-portable (the
    * oracle runs the identical chain).
    */
  /** All ISO-shaped dates (`\d{4}-\d{2}-\d{2}`) in the text, in
    * document order — the raw material for knowledge-cutoff audits and
    * decontamination-by-date (drop docs referencing dates past the
    * training cutoff). Extraction only, no validation: the caller
    * decides whether 9999-99-99 is a date. ISO strings sort
    * lexicographically as dates, so `array_max` of the result IS the
    * latest reference. Pure codegen projection, zero shuffle.
    */
  def isoDates(text: Column): Column =
    regexp_extract_all(text, lit("\\d{4}-\\d{2}-\\d{2}"), lit(0))

  /** HTML → text extraction for crawl bodies: drop script/style blocks
    * WHOLE (their content is code, and an unstripped `<` inside a script
    * would corrupt the later tag pass), drop comments, strip remaining
    * tags, decode the entity set (`&amp;` LAST so `&amp;lt;` decodes to
    * the literal `&lt;`, the [[cleanText]] rule), collapse whitespace.
    *
    * Pure per-row codegen'd regexp chain — zero shuffle at any scale —
    * and deliberately restricted to the RE2-safe regex subset (no
    * backreferences: script and style are separate patterns), so an
    * engine whose regex is RE2 replays it exactly.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  def cleanText(text: Column): Column = {
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&amp;" -> "&")
    val decoded = entities.foldLeft(text) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    val noCtrl = regexp_replace(decoded, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    trim(NfcNormalize.nfc(regexp_replace(noCtrl, "\\s+", " ")))
  }
}
