package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token counting, document
  * fingerprinting, shingling.
  *
  * All of these are pure Catalyst column expressions (built-ins + higher-
  * order functions) — no UDFs — so they vectorize under whole-stage codegen
  * and scale as narrow per-row transforms with zero shuffle. The reference
  * has a single string function (regex `Split`, reference Expression.scala:38,
  * Local.scala:26); everything else here is the SURVEY §2.4 "north-star"
  * extension surface.
  */
object Text {

  /** Lowercase, collapse whitespace, trim — canonical form for dedup. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens of the normalized text (no empty tokens). */
  def tokens(text: Column): Column =
    filter(split(normalize(text), " "), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sliding-window token chunks — the context-window preparation step of
    * a training pipeline: window `i` covers tokens `[i·stride, i·stride +
    * size)`, so consecutive chunks overlap by `size − stride` tokens and
    * the tail chunk may be short. Returns `array<struct<chunk_idx: int,
    * chunk: string, n_tokens: bigint>>` (empty for an empty/whitespace
    * document); explode it for one row per chunk. Entirely per-row narrow
    * work — the 1→n fan-out happens in the scan stage as a Generate, no
    * shuffle (same shape as [[graft.multimodal.Media]]'s frame
    * sampling). */
  def slidingChunks(text: Column, size: Int, stride: Int): Column = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    val toks = tokens(text)
    val n = org.apache.spark.sql.functions.size(toks)
    when(n <= 0, array().cast(s"array<struct<chunk_idx:int,chunk:string,n_tokens:bigint>>"))
      .otherwise(transform(
        sequence(lit(0), floor((n - 1).cast("double") / stride).cast("int")),
        i => struct(
          i.cast("int").as("chunk_idx"),
          concat_ws(" ", slice(toks, i * stride + 1, lit(size))).as("chunk"),
          org.apache.spark.sql.functions.size(slice(toks, i * stride + 1, lit(size)))
            .cast("long").as("n_tokens"))))
  }

  /** BPE-ish subword count: runs of word chars and single punctuation marks
    * each count as a token — the standard cheap proxy for a real tokenizer's
    * token count. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Training-corpus text cleaning: control characters → spaces, whitespace
    * collapsed, trimmed, hard-truncated to `maxChars`. Pure per-row column
    * expression (zero shuffle, runs in the scan stage); the rules are plain
    * regexes so the DuckDB oracle mirrors them byte-for-byte. The truncation
    * is by CHARACTER — a token-boundary-respecting truncate would compose
    * `tokens` + `slice` + `concat_ws` on top. */
  def clean(text: Column, maxChars: Int): Column = {
    require(maxChars > 0, s"maxChars must be positive, got $maxChars")
    substring(trim(regexp_replace(regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "), "\\s+", " ")), 1, maxChars)
  }

  /** PII redaction for training corpora: emails, IPv4 addresses, and
    * international-format phone numbers replaced by fixed mask tokens.
    * Patterns are deliberately restricted to syntax that Java regex and
    * RE2 (DuckDB, Go tooling) interpret identically — no backrefs, no
    * lookaround — so redaction is engine-portable and oracle-checkable.
    * Order matters: emails first (their local part can contain digits a
    * later pattern would chew up), then IPs, then phones. Pure per-row
    * narrow transform — at 100 TB this lives in the scan stage. */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "(\\d{1,3}\\.){3}\\d{1,3}"
    val phone = "\\+\\d{7,15}"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      phone, "<PHONE>")
  }

  /** Fraction of duplicated word n-grams: `1 - |distinct n-grams| /
    * |n-grams|`. The standard repetition signal for corpus quality
    * filtering — degenerate/boilerplate text repeats itself (rule family
    * published with the Gopher corpus pipeline, Rae et al. 2021, app. A).
    * Per-row column expression, zero shuffle; 0.0 for docs too short to
    * have more than one n-gram. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val sh = fastWordShingles(text, n)
    val total = size(sh).cast("double")
    when(total <= 1.0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(sh)).cast("double") / total)
  }

  /** MD5 fingerprint of the normalized text — the exact-dedup key. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Polynomial rolling-hash fingerprint of the normalized text
    * (`h = (h*31 + code) mod p`, folded left-to-right over characters).
    * Engine-portable pure arithmetic — the DuckDB oracle computes the
    * identical value — and the building block for content-defined chunking
    * at scale. */
  def rollingFingerprint(text: Column, p: Long = 1000000007L): Column =
    aggregate(
      filter(split(normalize(text), ""), c => length(c) > 0),
      lit(0L), (acc, c) => (acc * 31L + ascii(c)) % p)

  /** Contiguous word n-gram shingles via the native one-pass
    * [[graft.functions.catalyst.WordShingles]] expression — semantically
    * identical to [[wordShingles]] but ~10× cheaper (the built-in HOF
    * formulation re-tokenizes 4× per row, interpreted). Direct Catalyst
    * node — no session registration needed. */
  def fastWordShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    GraftBridge.column(graft.functions.catalyst.WordShingles(GraftBridge.expr(text), n))
  }

  /** Aggregate: the `k` most frequent values of a string column as
    * `array<struct<item, count, err>>`, through the native SpaceSaving sketch
    * [[graft.functions.catalyst.ApproxTopK]] with `capacity` counters
    * (exact whenever distinct values ≤ capacity). Direct Catalyst node — no
    * session registration needed. */
  def approxTopK(words: Column, k: Int, capacity: Int): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    GraftBridge.column(graft.functions.catalyst.ApproxTopK(
      GraftBridge.expr(words), k, capacity).toAggregateExpression())
  }

  /** Contiguous word n-gram shingles ("a b c", n=2 → ["a b", "b c"]).
    * Documents shorter than n words get their whole text as one shingle.
    * Pure-builtin reference form of [[fastWordShingles]]. */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) <= n, array(concat_ws(" ", ts)))
      .otherwise(transform(
        sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
  }

  /** Punctuation-character ratio, in [0,1]. */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("double") / greatest(length(text).cast("double"), lit(1.0))

  /** Ratio of tokens that are in the given stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatioFromTokens(tokens(text), stopwords)

  /** [[stopwordRatio]] over a PRE-COMPUTED token array — the identical
    * expression (the FromTokens family's one-tokenize-pass seam). */
  def stopwordRatioFromTokens(ts: Column, stopwords: Seq[String]): Column =
    size(filter(ts, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(ts).cast("double"), lit(1.0))

  /** Mean token length. */
  def meanTokenLength(text: Column): Column = {
    val ts = tokens(text)
    aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long")).cast("double") /
      greatest(size(ts).cast("double"), lit(1.0))
  }

  /** Heuristic quality score in [0,1]: rewards moderate length, low
    * punctuation, presence of common function words. Deterministic and
    * SQL-expressible (mirrored by the DuckDB oracle). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreFromTokens(text, tokens(text), stopwords)

  /** [[qualityScore]] over a PRE-COMPUTED token array — the identical
    * expression tree (the stopword ratio is the only token-dependent
    * term), so a caller that tokenizes ONCE behind a Generate barrier
    * (see [[langIdFromTokens]]'s hot-path note) gets the bit-identical
    * score without re-running the tokenizer. */
  def qualityScoreFromTokens(text: Column, ts: Column,
                             stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punct = punctRatio(text)
    val stop =
      size(filter(ts, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double") /
        greatest(size(ts).cast("double"), lit(1.0))
    least(greatest(
      lenScore * lit(0.4) + (lit(1.0) - punct) * lit(0.3) + least(stop * lit(5.0), lit(1.0)) * lit(0.3),
      lit(0.0)), lit(1.0))
  }

  /** Common function words for the language-ID heuristic. Deterministic
    * per-language marker lists (n-gram/stopword heuristic — the classic
    * cheap LID). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "you", "wo", "ta"))

  /** Heuristic language ID: the language whose marker words hit the most
    * tokens wins; ties break by language code order (deterministic). Returns
    * "und" when nothing matches.
    *
    * Note for HOT paths: this re-tokenizes per marker filter (five
    * interpreted higher-order scans, each re-running the tokenizer —
    * HOF lambdas sit outside codegen and outside common-subexpression
    * elimination). A corpus-wide caller should tokenize ONCE behind a
    * Generate barrier (`explode(array(tokens(text)))` — CollapseProject
    * cannot re-inline through a Generate) and pass the materialized
    * array to [[langIdFromTokens]]: measured 3× on the sf0.1 corpus. */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over a PRE-COMPUTED token array — identical scoring and
    * tie-break, no tokenizer reference (the caller controls how often
    * tokenization runs). */
  def langIdFromTokens(ts: Column): Column =
    langIdFromTokens(ts, langMarkers)

  /** [[langIdFromTokens]] with the marker lists as an explicit MODEL
    * parameter — the frozen-scorer seam for the persisted enrichment
    * lifecycle ([[graft.operators.Enrich]]): an append batch scores
    * against the PERSISTED marker table, not whatever the code ships. */
  def langIdFromTokens(ts: Column,
                       markers: Seq[(String, Seq[String])]): Column = {
    val scored = markers.map { case (lang, words) =>
      struct(
        size(filter(ts, t => t.isin(words.map(x => x: Any): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = markers.indices.foldLeft(struct(lit(-1).as("hits"), lit("und").as("lang"))) {
      case (acc, i) =>
        when(scored(i).getField("hits") > acc.getField("hits"), scored(i)).otherwise(acc)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

}
