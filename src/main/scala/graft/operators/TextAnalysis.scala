package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All column functions compose Spark built-ins only (split/filter/
  * size/regexp_replace/...), so every operator stays inside
  * whole-stage codegen and scales embarrassingly-parallel — no UDFs,
  * no shuffles beyond whatever aggregation the caller adds.
  */
object TextAnalysis {

  /** All regex-\s whitespace chars — `trim` alone strips only spaces,
    * leaving phantom empty tokens when text ends in \n or \t.
    */
  private[graft] val WsChars = " \t\n\u000B\f\r"

  /** Whitespace tokenization (the BPE-ish regex variant is
    * [[tokenizeBpeish]]). `""` tokenizes to `[""]` — callers on
    * possibly-empty text should filter first.
    *
    * The split pattern is the EXPLICIT class matching Java's \s, not
    * `\s+` itself: RE2 (DuckDB and most non-JVM engines) excludes
    * vertical tab (U+000B) from \s while Java includes it, so a bare
    * \s+ would tokenize a vertical-tab-bearing document differently
    * across engines. The oracles split with the same explicit class
    * (`[ \t\n\v\f\r]+` in RE2 spelling).
    */
  def tokenize(text: Column): Column =
    split(trim(text, WsChars), "[ \t\n\u000B\f\r]+")

  /** Sub-word-ish tokenization: splits on whitespace AND between
    * letter/digit/punct class changes, approximating BPE pre-token
    * boundaries (GPT-2-style pre-tokenizer regex, simplified).
    */
  def tokenizeBpeish(text: Column): Column =
    filter(
      split(trim(text), "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
      t => t =!= "" && t =!= " ")

  def tokenCount(text: Column): Column = size(tokenize(text))

  def charCount(text: Column): Column = length(text)

  /** Canonical text form for content hashing: lowercase → collapse
    * ASCII-whitespace runs to one space → trim → NFC-normalize. Run
    * this before [[graft.operators.Dedup.exactGroups]] /
    * `decontaminate` and visually-identical variants (case, spacing,
    * composed-vs-combining accents) hash together — the published
    * web-corpus exact-dedup preprocessing step. The operation order is
    * pinned by the t16 oracle's DuckDB spelling
    * `nfc_normalize(trim(regexp_replace(lower(t), '[ \t\n\v\f\r]+',
    * ' ', 'g')))`; the whitespace class is explicit for the same
    * RE2-vs-Java `\s` reason as [[tokenize]]. Pure codegen built-ins
    * except the NFC step (a native expression with an
    * already-normalized fast path).
    */
  def normalizeText(text: Column): Column =
    graft.functions.unicode_normalize(
      trim(regexp_replace(lower(text), "[ \t\n\f\r]+", " ")),
      "NFC")

  /** HTML → text extraction — the stage BEFORE every other curation
    * operator when the corpus arrives as raw web pages: drop
    * script/style/comment blocks wholesale, strip remaining tags to a
    * space, decode the common entities, collapse whitespace. A
    * deterministic regexp/replace chain (every pattern RE2-safe: no
    * backreferences or lookaround, so Java regex and RE2 engines
    * produce identical spans and the t24 oracle replays each step),
    * pure codegen projection — zero shuffle, runs at parquet-scan
    * speed and streams as-is.
    *
    * Decode order is load-bearing and pinned by the oracle: named/
    * numeric entities first, `&amp;` LAST, so double-escaped text
    * (`&amp;lt;`) decodes one level (to the literal `&lt;`) instead
    * of two — the standard single-pass entity rule. `&nbsp;` decodes
    * to a plain space (so it joins the final collapse) rather than
    * U+00A0. This is the C4-grade extraction tier: a full HTML5
    * tokenizer (malformed-markup recovery, CDATA, conditional
    * comments) is out of scope and belongs upstream of the engine.
    */
  def stripHtml(text: Column): Column = {
    val noScript =
      regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }
    trim(regexp_replace(decoded, "[ \t\n\f\r]+", " "))
  }

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      length(text)

  private val enStop = Seq("the", "a", "and", "of", "to", "in", "is")
  private val esStop = Seq("el", "la", "de", "que", "y", "en", "un")
  private val frStop = Seq("le", "la", "de", "et", "un", "les", "des")
  private val deStop = Seq("der", "die", "das", "und", "ist", "von", "ein")
  private val zhStop = Seq("的", "是", "不", "了", "在", "有", "我")

  def stopwords(lang: String): Seq[String] = lang match {
    case "en" => enStop; case "es" => esStop; case "fr" => frStop
    case "de" => deStop; case "zh" => zhStop
    case _    => Seq.empty
  }

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t =>
      array_contains(array(words.map(lit): _*), t)))

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokenize(text)
    stopCount(toks, enStop).cast("double") / size(toks)
  }

  /** Composite document quality in [0,1]:
    * 0.5·min(tokens/100,1) — enough content
    * + 0.3·min(stopword_ratio·5,1) — natural-language-ness
    * + 0.2·(1 − min(punct_ratio·10,1)) — not punctuation soup.
    * Deliberately simple/deterministic; thresholds tuned per corpus.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenize(text)
    val lenScore = least(size(toks).cast("double") / 100.0, lit(1.0))
    val stopScore = least(
      stopCount(toks, enStop).cast("double") / size(toks) * 5.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    lenScore * 0.5 + stopScore * 0.3 + punctScore * 0.2
  }

  /** N-gram/stopword-profile language ID over {en,es,fr,de,zh}:
    * counts stopword hits per language profile, picks the max with a
    * fixed priority order (en>es>fr>de>zh) on ties; "und" when no
    * profile matches at all.
    */
  def langId(text: Column): Column = {
    val toks = tokenize(text)
    val s = Seq(enStop, esStop, frStop, deStop, zhStop)
      .map(w => stopCount(toks, w))
    val top = greatest(s.head, s(1), s(2), s(3), s(4))
    when(top === 0, "und")
      .when(s.head === top, "en")
      .when(s(1) === top, "es")
      .when(s(2) === top, "fr")
      .when(s(3) === top, "de")
      .otherwise("zh")
  }

  /** Content fingerprint: md5 of lowercase text with all non-word
    * characters removed — robust to spacing/punctuation edits. The
    * rolling-hash variant is graft.functions.rolling_hash.
    */
  /** PII redaction: emails then phone-shaped digit runs replaced with
    * bracketed tags. Patterns are RE2-safe (no lookarounds/backrefs),
    * so Java regex (Spark) and RE2 (DuckDB/ripgrep-family engines)
    * replace the identical spans — the oracle can diff the exact
    * redacted text. Order matters: emails first, or a phone-shaped
    * digit run inside an address would split it.
    *
    * The phone shape requires ≥7 DIGITS with at most 2 separator
    * chars between consecutive digits — "+1 (415) 555-0142" and
    * "020 7946 0958" redact, while date ranges like "2020 - 2024"
    * (3-char separator, ≤4-digit runs) survive. The span's digit/
    * separator factorization is unique, so Java's greedy and RE2's
    * leftmost-longest semantics pick identical spans.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]([()\\- ]{0,2}[0-9]){6,}"
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** Gopher-style repetition signals, all exact integers: word count,
    * distinct words, the most-frequent word's count, and the same pair
    * for bigrams (duplicated-bigram mass is the classic boilerplate /
    * degenerate-text detector). Distributed shape: explode + two-level
    * groupBy — per-doc work never goes quadratic the way an
    * array-of-counts projection would, and the (doc, word) shuffle key
    * keeps parallelism at corpus scale.
    *
    * Output: idCol, n_words, n_distinct_words, top_word_n, n_bigrams,
    * n_distinct_bigrams (bigram counts 0 for single-word docs; ALL
    * counts 0 for empty/whitespace-only docs — tokenize's empty-string
    * token is filtered here, or an empty doc would score top_word_n ==
    * n_words == 1 and read as maximal boilerplate to a Gopher-style
    * repetition filter).
    */
  def repetitionStats(df: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val toks = filter(tokenize(col(textCol)), t => t =!= "")
    val base = df.select(col(idCol), toks.as("__toks"))
    val words = base.select(col(idCol), explode(col("__toks")).as("__w"))
    val wordAgg = words.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("__c")).as("top_word_n"))
    // sequence(1, 0) DESCENDS in Spark — guard the <2-token case
    val bigramArr = when(size(col("__toks")) < 2,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1))))
    val bigramAgg = base
      .select(col(idCol), explode(bigramArr).as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    // left-join from the full id set: explode drops empty docs, but
    // they must still appear (with zeros), not vanish from the output
    df.select(col(idCol))
      .join(wordAgg, Seq(idCol), "left")
      .join(bigramAgg, Seq(idCol), "left")
      .na.fill(0L, Seq("n_words", "n_distinct_words", "top_word_n",
        "n_bigrams", "n_distinct_bigrams"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1) as
    * one codegen projection: per document the raw counters, a 0/1
    * flag per rule, and the composite `keep`. Rules:
    *
    *  1. word count in [minWords, maxWords]
    *  2. mean word length in [3, 10] characters
    *  3. symbol-to-word ratio ≤ 0.1 (symbols = `#` chars + `...` runs)
    *  4. ≤ 90% of lines start with a bullet (`-`, `*`, `•`)
    *  5. ≤ 30% of lines end with an ellipsis (`...` or `…`)
    *  6. ≥ 80% of words contain at least one ASCII letter
    *  7. at least 2 distinct "required" English words present
    *     (the/be/to/of/and/that/have/with — lowercased match)
    *
    * Every threshold compare is INTEGER-exact (mean length in [3,10] ⇔
    * `3·n ≤ Σlen ≤ 10·n`; ratio ≤ 0.1 ⇔ `10·sym ≤ n` …), so the
    * operator is bit-identical cross-engine with no float rounding
    * grid at all. `...` occurrences use the non-overlapping replace
    * count `(len − len(replace(text,'...','')))/3`, which Java and
    * RE2-family engines compute identically; the letter class is the
    * explicit `[A-Za-z]` (NOT `\p{L}` — Unicode table versions differ
    * across engines). Empty text tokenizes to `[""]` → fails rule 2.
    *
    * Scale: pure per-row projection — no shuffle, embarrassingly
    * parallel, stays inside whole-stage codegen.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    val text = col(textCol)
    val toks = tokenize(text)
    val lines = split(text, "\n")
    val required = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val lowToks = transform(toks, t => lower(t))
    val nReq = required.map(w =>
      when(array_contains(lowToks, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val stats = df.select(col(idCol),
      size(toks).cast("long").as("n_words"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .as("sum_word_chars"),
      ((length(text) - length(replace(text, lit("#"), lit("")))) +
        (length(text) - length(replace(text, lit("..."), lit("")))) / 3)
        .cast("long").as("n_symbols"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("^[ \t]*[-*•]"))).cast("long")
        .as("n_bullet_lines"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)[ \t]*$")))
        .cast("long").as("n_ellipsis_lines"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
        .as("n_alpha_words"),
      nReq.as("n_required_hits"))
    val r = Map(
      "r_words" -> (col("n_words") >= minWords &&
        col("n_words") <= maxWords),
      "r_mean_len" -> (col("sum_word_chars") >= col("n_words") * 3 &&
        col("sum_word_chars") <= col("n_words") * 10),
      "r_symbol" -> (col("n_symbols") * 10 <= col("n_words")),
      "r_bullet" -> (col("n_bullet_lines") * 10 <= col("n_lines") * 9),
      "r_ellipsis" ->
        (col("n_ellipsis_lines") * 10 <= col("n_lines") * 3),
      "r_alpha" -> (col("n_alpha_words") * 5 >= col("n_words") * 4),
      "r_required" -> (col("n_required_hits") >= 2))
    val flagged = r.toSeq.sortBy(_._1).foldLeft(stats) {
      case (d, (name, cond)) =>
        d.withColumn(name, when(cond, 1L).otherwise(0L))
    }
    flagged.withColumn("keep",
      r.keys.toSeq.sorted.map(col).reduce(_ * _))
  }

  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^\\p{L}\\p{N}]", ""))

  /** CROSS-document n-gram commonality stats — the corpus-level
    * boilerplate signal ([[repetitionStats]] is the within-doc one):
    * per document, `n_ngrams` = its distinct word n-grams and
    * `n_common` = how many of those occur in at least `minDf`
    * DISTINCT documents corpus-wide. A high `n_common / n_ngrams`
    * ratio marks template/boilerplate text (nav bars, license
    * headers, generated pages) that per-doc quality scores can't see;
    * filter or down-weight on it (e.g. via [[Sampling
    * .weightedHashSample]]). All-integer outputs → exact oracle.
    *
    * Scale shape: an inverted-index design, never all-pairs. Grams
    * travel as 64-bit [[Dedup.shingleHashes]] values — one native
    * pass per document, no token/gram string materialization, 16
    * bytes per exploded row ([[Dedup.shingles]]' per-doc-distinct
    * contract holds, so a plain count IS the distinct-doc frequency —
    * no count-distinct machinery). One shuffle on the gram hash
    * computes document frequency, the frequency joins back on the
    * same key (map-side partial aggregation feeds the frequency side,
    * AQE's skew-join split absorbs super-common grams — the
    * frequency side is one row per gram and replicates freely), then
    * one per-doc aggregation on the id computes both counts. The
    * DuckDB oracle counts gram STRINGS; counts agree modulo 64-bit
    * hash collisions (~k²/2^65 — odds ~1e-7 even at 10^6 distinct
    * grams), pinned hash-exact at sf0.001/0.01/0.1.
    */
  def ngramNoveltyStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minDf: Int = 2): DataFrame = {
    val grams = df.select(col(idCol),
      explode(Dedup.shingleHashes(col(textCol), n)).as("__g"))
    val freq = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    grams.join(freq, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(col("__df") >= minDf, true)).as("n_common"))
  }

  /** Cross-document boilerplate REMOVAL ([[ngramNoveltyStats]] is the
    * signal-only twin): drop every newline-delimited line whose exact
    * content occurs in at least `minDf` DISTINCT documents, and
    * rebuild each document's text from its surviving lines in
    * original order. This is the line-level corpus dedup every web
    * curation pipeline runs between extraction and quality filtering
    * (nav bars, cookie banners, license headers repeat verbatim
    * across a domain's pages; within one page they're unremarkable).
    * Returns `(idCol, textCol, n_lines, n_removed)` — one row per
    * input document, all-lines-removed documents kept with `""`.
    *
    * Empty lines are document STRUCTURE, not content: they are exempt
    * from both frequency counting and removal (otherwise every blank
    * separator line in the corpus is "boilerplate" and paragraph
    * boundaries collapse). Duplicate lines WITHIN one document count
    * once toward document frequency, but every occurrence is removed
    * once the line is flagged.
    *
    * Scale shape: an inverted-index design over 64-bit line hashes —
    * lines travel as 8-byte `xxhash64` values for counting, strings
    * ship exactly once (to the rebuild). One shuffle dedups
    * `(doc, hash)` pairs, one computes document frequency per hash,
    * and the flagged set — only lines with df ≥ minDf, the
    * boilerplate itself — is small relative to the corpus, so AQE
    * broadcasts the left join back onto the line stream; the final
    * per-document rebuild aggregates on the id. Never all-pairs.
    * Hash collisions (~k²/2⁶⁵ across distinct lines) can at worst
    * misclassify one line; the t11 oracle recomputes over line
    * STRINGS and is pinned hash-exact at sf0.001/0.01/0.1.
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                            minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf): at 1 every " +
      "line is its own boilerplate and the whole corpus empties")
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      // null hash for empty lines: never equi-joins → never flagged
      .withColumn("__h",
        when(length(col("__line")) > 0, xxhash64(col("__line"))))
    val flagged = lines.filter(col("__h").isNotNull)
      .select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    lines.join(flagged, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("__df").isNull, struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), "\n").as(textCol),
        count(lit(1)).as("n_lines"),
        count(col("__df")).as("n_removed"))
  }

  /** Train a whitespace-token bigram language model from a reference
    * corpus: one frame of `(prev, tok, c)` counts where `prev IS NULL`
    * rows are the unigram table and the rest are bigram counts — a
    * single persistable artifact (write it as parquet next to the
    * corpus snapshot it was trained on). Feed to [[lmScore]].
    *
    * This is the model behind CCNet-style perplexity filtering: train
    * on a high-quality target domain, score the crawl, keep the
    * low-perplexity tail. Scale: two token-keyed aggregations
    * (explode → groupBy), output is vocab/bigram-vocab sized —
    * orders of magnitude smaller than the corpus.
    */
  def bigramLm(ref: DataFrame, textCol: String): DataFrame = {
    // spread (round 17): __tk feeds TWO count aggregations, each
    // re-running the tokenize off a 1–2-split fixture scan; no-op on
    // a production-parallel scan
    val withTk = graft.Graft.spread(ref)
      .select(tokenize(col(textCol)).as("__tk"))
    val uni = withTk.select(explode(col("__tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(lit(null).cast("string").as("prev"), col("tok"), col("c"))
    // bigram adjacency comes from the row's own token array — no
    // window, no shuffle on the id: pair token i+1 with token i
    val big = withTk.select(explode(expr(
        // lambda index i is 0-based over the slice, and [] indexing is
        // 0-based too: slice element i is __tk[i+1], its prev __tk[i]
        "transform(slice(__tk, 2, size(__tk) - 1), (t, i) -> " +
          "struct(__tk[i] AS prev, t AS tok))")).as("__g"))
      .groupBy(col("__g.prev").as("prev"), col("__g.tok").as("tok"))
      .agg(count(lit(1)).as("c"))
    uni.unionByName(big)
  }

  /** Score documents against a [[bigramLm]] frame with stupid-backoff
    * bigram probabilities: the first token scores on its unigram
    * probability c1(t)/T; a later token on c2(prev,t)/c1(prev) when
    * the bigram was seen, else backing off to alpha * (c1(t)/T); an
    * out-of-vocabulary token counts as 1 (so probabilities never hit
    * zero). Output per document: `n_tokens`, `n_oov`, `n_backoff`
    * (exact integers) and `lm_log10_ppt` = round(-mean log10 p, 6) —
    * per-token cross-entropy in bits-of-10; lower = more like the
    * reference domain. The per-token probability is a single division
    * of exact integer-valued doubles (and one explicitly-
    * parenthesized alpha multiply), so both engines compute
    * bit-identical inputs to log10 and the 6-decimal round absorbs
    * the last-ulp sum-order drift of the mean.
    *
    * Scale: the previous token comes from the row's OWN array (no
    * per-document lag window — the token stream never shuffles on the
    * id for adjacency), the LM joins are vocab-sized (AQE broadcasts
    * them), and the final aggregate is one partial-agg groupBy on the
    * id. Never all-pairs; the LM frame is tiny next to the corpus.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              lm: DataFrame, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val uni = lm.filter(col("prev").isNull)
      .select(col("tok"), col("c"))
    val totalDf = uni.agg(sum(col("c")).cast("double").as("__T"))
    val big = lm.filter(col("prev").isNotNull)
      .select(col("prev").as("__prev"), col("tok").as("__tok"),
        col("c").as("__c2"))
    // spread: the tokenize+explode pass ran on the fixture's 1–2
    // splits; no-op at production parallelism (round 17)
    val toks = graft.Graft.spread(df)
      .withColumn("__tk", tokenize(col(textCol)))
      .select(col(idCol), explode(expr(
        "transform(__tk, (t, i) -> struct(" +
          "CASE WHEN i = 0 THEN CAST(NULL AS STRING) " +
          "ELSE __tk[i - 1] END AS prev, t AS tok))")).as("__g"))
      .select(col(idCol), col("__g.prev").as("__prev"),
        col("__g.tok").as("__tok"))
    val scored = toks
      .join(uni.select(col("tok").as("__tok"), col("c").as("__c1")),
        Seq("__tok"), "left")
      .join(uni.select(col("tok").as("__prev"), col("c").as("__c1p")),
        Seq("__prev"), "left")
      .join(big, Seq("__prev", "__tok"), "left")
      .crossJoin(broadcast(totalDf))
      // OOV floor: an unseen token scores as count 1
      .withColumn("__c1e", coalesce(col("__c1"), lit(1L)).cast("double"))
      .withColumn("__p",
        when(col("__prev").isNull, col("__c1e") / col("__T"))
          .when(col("__c2").isNotNull && col("__c1p").isNotNull,
            col("__c2").cast("double") / col("__c1p").cast("double"))
          .otherwise(lit(alpha) * (col("__c1e") / col("__T"))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__c1").isNull, true)).as("n_oov"),
        count(when(col("__prev").isNotNull && col("__c2").isNull, true))
          .as("n_backoff"),
        round(-avg(log10(col("__p"))), 6).as("lm_log10_ppt"))
  }

  /** Train a whitespace-token TRIGRAM language model: one frame of
    * `(p2, p1, tok, c)` counts holding all three orders — unigram
    * rows have `p2 IS NULL AND p1 IS NULL`, bigram rows `p2 IS NULL`
    * only, trigram rows all three set. The order-3 counterpart of
    * [[bigramLm]] (production CCNet uses order 5; order 3 is where
    * the backoff CHAIN — the real structural difference from order
    * 2 — first appears, and higher orders are the same frame with
    * more prev columns). One persistable artifact; feed to
    * [[lmScore3]].
    *
    * Scale: three token-keyed partial aggregations over the same
    * exploded pass shape as [[bigramLm]]; adjacency comes from each
    * row's own token array (no id shuffle). Output is trigram-vocab
    * sized — still orders of magnitude smaller than any corpus the
    * model is worth training on.
    */
  def trigramLm(ref: DataFrame, textCol: String): DataFrame = {
    // spread: three count aggregations off the same tokenize — the
    // bigramLm note
    val withTk = graft.Graft.spread(ref)
      .select(tokenize(col(textCol)).as("__tk"))
    val nul = lit(null).cast("string")
    val uni = withTk.select(explode(col("__tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(nul.as("p2"), nul.as("p1"), col("tok"), col("c"))
    val big = withTk.select(explode(expr(
        "transform(slice(__tk, 2, size(__tk) - 1), (t, i) -> " +
          "struct(__tk[i] AS p1, t AS tok))")).as("__g"))
      .groupBy(col("__g.p1").as("p1"), col("__g.tok").as("tok"))
      .agg(count(lit(1)).as("c"))
      .select(nul.as("p2"), col("p1"), col("tok"), col("c"))
    val tri = withTk.select(explode(expr(
        "transform(slice(__tk, 3, greatest(size(__tk) - 2, 0)), " +
          "(t, i) -> struct(__tk[i] AS p2, __tk[i+1] AS p1, " +
          "t AS tok))")).as("__g"))
      .groupBy(col("__g.p2").as("p2"), col("__g.p1").as("p1"),
        col("__g.tok").as("tok"))
      .agg(count(lit(1)).as("c"))
    uni.unionByName(big).unionByName(tri)
  }

  /** Score documents against a [[trigramLm]] frame with the full
    * stupid-backoff CHAIN (Brants et al. 2007): a token with two
    * predecessors scores c3(p2,p1,t)/c2(p2,p1) when its trigram was
    * seen, else alpha * (c2(p1,t)/c1(p1)) when its bigram was, else
    * alpha * (alpha * (c1(t)/T)); the second token skips the trigram
    * level and the first scores on its unigram probability. OOV
    * tokens count as 1 so probabilities never hit zero.
    *
    * Output per document: `n_tokens`, `n_oov`, `n_tri` / `n_big`
    * (tokens scored at the trigram / bigram level — unigram-level =
    * the remainder) and `lm3_log10_ppt` = round(-mean log10 p, 6).
    * Every probability is a division of exact integer-valued doubles
    * with explicitly-parenthesized alpha multiplies, so both engines
    * feed bit-identical values to log10 and the 6-decimal round
    * absorbs the mean's last-ulp sum-order drift (the [[lmScore]]
    * exactness recipe, one order up).
    *
    * Scale: five LM-sized joins (AQE broadcasts them) + one id-keyed
    * partial agg; the previous tokens come from the row's OWN array,
    * so the corpus token stream never shuffles for adjacency.
    */
  def lmScore3(df: DataFrame, idCol: String, textCol: String,
               lm: DataFrame, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val uni = lm.filter(col("p2").isNull && col("p1").isNull)
      .select(col("tok"), col("c"))
    val totalDf = uni.agg(sum(col("c")).cast("double").as("__T"))
    val big = lm.filter(col("p2").isNull && col("p1").isNotNull)
      .select(col("p1").as("__p1"), col("tok").as("__tok"),
        col("c").as("__c2"))
    val tri = lm.filter(col("p2").isNotNull)
      .select(col("p2").as("__p2"), col("p1").as("__p1"),
        col("tok").as("__tok"), col("c").as("__c3"))
    val toks = graft.Graft.spread(df)
      .withColumn("__tk", tokenize(col(textCol)))
      .select(col(idCol), explode(expr(
        "transform(__tk, (t, i) -> struct(" +
          "CASE WHEN i < 2 THEN CAST(NULL AS STRING) " +
          "ELSE __tk[i - 2] END AS p2, " +
          "CASE WHEN i < 1 THEN CAST(NULL AS STRING) " +
          "ELSE __tk[i - 1] END AS p1, t AS tok))")).as("__g"))
      .select(col(idCol), col("__g.p2").as("__p2"),
        col("__g.p1").as("__p1"), col("__g.tok").as("__tok"))
    val scored = toks
      .join(uni.select(col("tok").as("__tok"), col("c").as("__c1")),
        Seq("__tok"), "left")
      .join(uni.select(col("tok").as("__p1"), col("c").as("__c1p")),
        Seq("__p1"), "left")
      .join(big, Seq("__p1", "__tok"), "left")
      // the trigram denominator is the CONTEXT pair's bigram count
      .join(big.select(col("__p1").as("__p2"), col("__tok").as("__p1"),
          col("__c2").as("__c2ctx")),
        Seq("__p2", "__p1"), "left")
      .join(tri, Seq("__p2", "__p1", "__tok"), "left")
      .crossJoin(broadcast(totalDf))
      .withColumn("__c1e", coalesce(col("__c1"), lit(1L)).cast("double"))
      .withColumn("__lvl",
        when(col("__p1").isNull, lit(1))
          .when(col("__p2").isNull,
            when(col("__c2").isNotNull && col("__c1p").isNotNull, lit(2))
              .otherwise(lit(1)))
          .otherwise(
            when(col("__c3").isNotNull && col("__c2ctx").isNotNull,
              lit(3))
              .when(col("__c2").isNotNull && col("__c1p").isNotNull,
                lit(2))
              .otherwise(lit(1))))
      .withColumn("__p0", col("__c1e") / col("__T"))
      .withColumn("__pb",
        col("__c2").cast("double") / col("__c1p").cast("double"))
      .withColumn("__p",
        when(col("__p1").isNull, col("__p0"))
          .when(col("__p2").isNull,
            when(col("__lvl") === 2, col("__pb"))
              .otherwise(lit(alpha) * col("__p0")))
          .otherwise(
            when(col("__lvl") === 3,
              col("__c3").cast("double") / col("__c2ctx").cast("double"))
              .when(col("__lvl") === 2, lit(alpha) * col("__pb"))
              .otherwise(lit(alpha) * (lit(alpha) * col("__p0")))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__c1").isNull, true)).as("n_oov"),
        count(when(col("__lvl") === 3, true)).as("n_tri"),
        count(when(col("__lvl") === 2, true)).as("n_big"),
        round(-avg(log10(col("__p"))), 6).as("lm3_log10_ppt"))
  }

  /** DSIR-style importance weights: score the corpus under a TARGET
    * domain LM and a SOURCE (general/crawl) LM — both [[bigramLm]]
    * frames — and weight each document by the per-token geometric-mean
    * likelihood ratio `10^(hs − ht)` capped at 1, where ht/hs are the
    * [[lmScore]] cross-entropies. Documents that look more like the
    * target than the source keep weight 1; off-target documents decay
    * exponentially in their per-token score gap. Feed `imp_weight` to
    * [[Sampling.weightedHashSample]] for the resampling step — that
    * pair is the importance-resampling data selection of Xie et al.
    * (DSIR), with a bigram model standing in for the hashed-n-gram
    * features.
    *
    * Cross-engine exactness: both cross-entropies are already rounded
    * to the 1e-6 grid by [[lmScore]], so `hs − ht` is bit-identical,
    * and the final round-6 re-grids the one `pow` evaluation; the
    * downstream draw threshold `floor(w · 16^8)` then floors a
    * grid-exact double identically everywhere.
    *
    * Scale: two [[lmScore]] passes (vocab-sized joins, one id-keyed
    * partial agg each) plus two id-keyed joins back onto the corpus.
    * Output: input columns ++ `imp_weight`.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetLm: DataFrame, sourceLm: DataFrame,
                        alpha: Double = 0.4): DataFrame = {
    val ht = lmScore(df, idCol, textCol, targetLm, alpha)
      .select(col(idCol), col("lm_log10_ppt").as("__ht"))
    val hs = lmScore(df, idCol, textCol, sourceLm, alpha)
      .select(col(idCol), col("lm_log10_ppt").as("__hs"))
    df.join(ht, Seq(idCol)).join(hs, Seq(idCol))
      .withColumn("imp_weight",
        round(least(lit(1.0), pow(lit(10.0), col("__hs") - col("__ht"))),
          6))
      .drop("__ht", "__hs")
  }

  /** Top-`k` characteristic terms per document by tf·idf — the
    * keyword-extraction primitive behind topic tagging, domain
    * labeling, and cluster naming in a curation pipeline. tf = raw
    * term count within the document, idf = ln(N / df) with N = corpus
    * document count and df = documents containing the term; ties
    * break by term ascending so the selection is deterministic.
    *
    * Scale shape: one explode over the scan, then a (doc, term)
    * partial-count shuffle for tf; df is a term-keyed count over the
    * DISTINCT (doc, term) frame — both map-side-combined; N rides in
    * as a broadcast one-row aggregate (no driver-side count() action).
    * The per-doc ranking window partitions by doc id — no global
    * sort. Term strings do shuffle here (unlike the digest-only dedup
    * joins) because they ARE the output; cardinality is vocab-bounded
    * per doc.
    *
    * Output: (id, rank, term, tf, tfidf) with tfidf rounded to the
    * 1e-6 grid for cross-engine comparison.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val toks = df.select(col(idCol), explode(tokenize(col(textCol)))
      .as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = toks.distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("__df")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"),
        col("tfidf"))
  }

  /** One-call corpus composition report over arbitrary dimension
    * columns (language, source, split label, ...): docs, token and
    * char volume, and each slice's share of the corpus — the summary
    * every curation run prints before and after a stage to see what a
    * filter actually removed. One scan, one partial-agg shuffle keyed
    * by the (low-cardinality) dims; the grand total rides back as a
    * broadcast 1-row aggregate (the tf·idf `N` trick), so nothing
    * rescans or reshuffles the corpus. Shares are exact-integer
    * divisions rounded to the 1e-6 grid — reproducible cross-engine.
    */
  def corpusReport(df: DataFrame, textCol: String,
                   dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension column")
    val perSlice = df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).as("total_tokens"),
        sum(charCount(col(textCol))).as("total_chars"))
    val totals = perSlice.agg(sum(col("n_docs")).as("__docs"),
      sum(col("total_tokens")).as("__toks"))
    perSlice.crossJoin(broadcast(totals))
      .withColumn("share_docs",
        round(col("n_docs").cast("double") / col("__docs"), 6))
      .withColumn("share_tokens",
        round(col("total_tokens").cast("double") / col("__toks"), 6))
      .drop("__docs", "__toks")
  }

  /** Corpus-frequent word n-grams: every n-gram OCCURRENCE counted
    * (not per-doc distinct — frequency mining wants volume), global
    * top-k by (count desc, gram asc) so ties are deterministic. The
    * discovery half of boilerplate handling: run this to SEE the
    * templates, then [[stripBoilerplateLines]] /
    * [[graft.operators.Dedup.ngramDecontaminate]] to act on them.
    *
    * Scale: counting runs entirely on single-pass 64-bit gram hashes
    * (no gram strings materialize, 8-byte partial-agg keys; map-side
    * combine absorbs the within-partition repetition that makes a
    * gram frequent in the first place). Strings exist only for the
    * WINNERS: the k-th count rides back as a broadcast 1-row
    * aggregate, candidate hashes (top-k plus boundary ties, so the
    * lexicographic tie-break stays exact) broadcast into a second
    * scan that rebuilds just the matching grams' text. Two linear
    * scans, string work proportional to winning-gram occurrences —
    * never the corpus.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 3,
                k: Int = 20): DataFrame = {
    require(n >= 1 && k >= 1, "need n >= 1 and k >= 1")
    val counts = df
      .select(explode(graft.functions.gram_hashes(col(textCol), n))
        .as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("cnt"))
    val kth = counts.orderBy(col("cnt").desc).limit(k)
      .agg(min(col("cnt")).as("__kth"))
    val cands = counts.join(broadcast(kth), col("cnt") >= col("__kth"))
      .select(col("__h"), col("cnt"))
    val toks = tokenize(col(textCol))
    df.select(col(textCol),
        posexplode(graft.functions.gram_hashes(col(textCol), n))
          .as(Seq("__p", "__h")))
      .join(broadcast(cands), Seq("__h"))
      .select(col("cnt"),
        concat_ws(" ", slice(toks, col("__p") + lit(1), lit(n)))
          .as("gram"))
      .groupBy(col("gram")).agg(max(col("cnt")).as("cnt"))
      .select(col("gram"), col("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Before/after composition diff between two corpus stages: what a
    * filter/dedup/decontamination stage actually removed, per slice.
    * Counts are exact integers; `removed_frac` is one exact-integer
    * division rounded to the 1e-6 grid. Two dims-keyed partial aggs +
    * one (tiny, dims-cardinality) full outer join — the corpora
    * themselves are scanned once each and never joined row-to-row.
    */
  def corpusDiff(before: DataFrame, after: DataFrame, textCol: String,
                 dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension column")
    def slice(df: DataFrame, suffix: String): DataFrame =
      df.groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as(s"docs_$suffix"),
          sum(tokenCount(col(textCol))).as(s"tokens_$suffix"))
    slice(before, "before")
      .join(slice(after, "after"), dims, "full_outer")
      .na.fill(0, Seq("docs_before", "tokens_before", "docs_after",
        "tokens_after"))
      .withColumn("docs_removed", col("docs_before") - col("docs_after"))
      .withColumn("tokens_removed",
        col("tokens_before") - col("tokens_after"))
      .withColumn("removed_frac",
        round(col("docs_removed").cast("double") /
          greatest(col("docs_before"), lit(1L)), 6))
  }

  /** WITHIN-document repeated-line removal: keep each line's first
    * occurrence, preserve order, leave empty lines alone (they are
    * structure, not content — same exemption as
    * [[stripBoilerplateLines]], which handles the CROSS-document
    * case). Scraped pages repeat nav/footer lines inside one page;
    * this is the cheap local pass that runs before any corpus-wide
    * machinery — a pure per-row projection (split / indexed filter /
    * join), zero shuffle, zero state, streams as-is.
    *
    * @return (idCol, clean, n_lines_kept, n_lines_total)
    */
  def dropRepeatedLines(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    // 0-based lambda index vs 1-based array_position: first
    // occurrence keeps iff position == i+1
    val kept = filter(lines, (x, i) =>
      x === "" || array_position(lines, x) === i.cast("long") + 1L)
    df.select(col(idCol), array_join(kept, "\n").as("clean"),
      size(kept).as("n_lines_kept"), size(lines).as("n_lines_total"))
  }

  /** Line-level heuristic web cleaning in the C4 family (Raffel et al.
    * 2020, §2.2 — public rules): keep a line only if it (a) has at
    * least `minLineWords` whitespace words, (b) ends (after right
    * whitespace trim) in terminal punctuation `. ! ? "`, and (c) does
    * not mention a policy/boilerplate phrase (javascript, cookie,
    * privacy policy, terms of use); drop the whole document if it
    * contains `lorem ipsum` or a `{` (code/template leakage) or fewer
    * than `minKeptLines` lines survive.
    *
    * Everything is a codegen'd projection over built-ins (split /
    * filter / array_join) — a pure scan filter with zero shuffle, so
    * at 100 TB this runs at parquet-read speed and composes with
    * pushdown on any preceding predicate. The phrase list is the
    * C4-published core; extend via a wrapping filter rather than
    * editing here, so the gated semantics stay pinned.
    *
    * @return (idCol, clean, n_lines_kept, n_lines_total) for surviving
    *         documents; `clean` is the kept lines re-joined with \n.
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 3, minKeptLines: Int = 1): DataFrame = {
    val badLine = Seq("javascript", "cookie", "privacy policy",
      "terms of use")
    def keepLine(ln: Column): Column = {
      val words = size(split(trim(ln), "[ \t\f\r]+"))
      val lastCh = substring(rtrim(ln), -1, 1)
      val lc = lower(ln)
      words >= minLineWords &&
        lastCh.isin(".", "!", "?", "\"") &&
        !badLine.map(p => lc.contains(p)).reduce(_ || _)
    }
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, keepLine(_))
    val docBad = lower(col(textCol)).contains("lorem ipsum") ||
      col(textCol).contains("{")
    df.select(col(idCol), array_join(kept, "\n").as("clean"),
        size(kept).as("n_lines_kept"), size(lines).as("n_lines_total"))
      .where(!docBad && col("n_lines_kept") >= minKeptLines)
  }

  /** Hashed-feature linear text scorer (the fastText / VW
    * hashing-trick shape, public): each token hashes to one of `dim`
    * buckets through the first 8 hex chars of md5 (an oracle can
    * recompute every step), each bucket carries a fixed per-model
    * weight in exact milli-units, and the document logit is the mean
    * bucket weight. With a trained weight table this is a quality /
    * domain classifier; the default weight function derives a
    * deterministic pseudo-model from md5("w<bucket>") so the operator
    * is self-contained and exactly reproducible.
    *
    * Determinism contract: `score_milli` is an integer sum (exact in
    * any order), and `logit` is one IEEE division of exact integers —
    * bit-identical across engines, no rounding needed. A pure codegen
    * projection: zero shuffle, zero UDFs, linear scan at any scale.
    *
    * @return (idCol, n_tokens, score_milli, logit, keep) with
    *         keep = logit > 0.
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        dim: Int = 1024): DataFrame = {
    require(dim > 0, "need dim > 0")
    val toks = tokenize(col(textCol))
    // weight of a token: md5-derived integer in [-1000, 1000] —
    // w[b] = pmod(h32("w" + b), 2001) − 1000 depends only on the
    // BUCKET, so the ≤dim-entry table is computed once driver-side
    // (same md5 arithmetic) and the scan pays ONE digest per token
    // (bucket) + a table lookup instead of two chained md5→hex→conv
    // trees per token (round 16; value-identical, oracle unchanged)
    val md = java.security.MessageDigest.getInstance("MD5")
    val w = Array.tabulate(dim) { b =>
      val d = md.digest(s"w$b".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (h % 2001L) - 1000L
    }
    val scoreMilli = graft.functions.bucket_dot(
      graft.functions.hashed_buckets(toks, dim), w.toSeq)
    df.select(col(idCol), size(toks).as("n_tokens"),
        scoreMilli.as("score_milli"))
      .withColumn("logit", col("score_milli").cast("double") /
        (lit(1000.0) * col("n_tokens")))
      .withColumn("keep", col("logit") > 0)
  }

  /** First 8 hex chars of md5 as a non-negative long — the oracle-
    * replayable 32-bit hash every hashed-feature operator shares
    * (a DuckDB oracle recomputes it hex digit by hex digit).
    */
  private[graft] def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** The hashed feature-bucket array the classifier family shares
    * (train and score MUST build features identically — one builder):
    * every token hashes to h32 mod dim, and with `ngrams = 2` every
    * adjacent token PAIR (space-joined — unambiguous, tokens are
    * whitespace-split) hashes into the SAME bucket space, the
    * fastText `wordNgrams=2` convention (Joulin et al. 2016) that
    * lets a bag-of-words-blind model see word order ("new york" vs
    * "york new"). Unigrams first, then bigrams in document order, so
    * the feature count is n_tokens (ngrams=1) or 2·n_tokens − 1.
    * Pure per-row projection; bucket ids replay exactly in a DuckDB
    * oracle (md5 digit arithmetic).
    */
  private[graft] def featureBuckets(toks: Column, dim: Int,
                                    ngrams: Int): Column = {
    require(ngrams == 1 || ngrams == 2,
      s"ngrams must be 1 (unigrams) or 2 (+adjacent pairs), got $ngrams")
    // one native pass ([[graft.expressions.HashedBuckets]], round
    // 16): one md5 digest per feature straight off the UTF-8 bytes —
    // the Column spelling (transform + md5→hex→substring→conv per
    // token, zip_with over two shifted slices for the pairs) paid
    // three expression nodes plus interpreted higher-order-lambda
    // machinery per feature; values are identical (spec-pinned
    // against the old spelling, oracles unchanged)
    graft.functions.hashed_buckets(toks, dim, ngrams)
  }

  /** `size(featureBuckets(toks, _, ngrams))` WITHOUT materializing
    * the bucket array: higher-order-function trees are excluded from
    * subexpression elimination, so counting via size(bks) would hash
    * every token a second time per row — the count only needs the
    * (cheap) token array. n (ngrams = 1) or 2n − 1 (ngrams = 2,
    * n ≥ 1); 0 stays 0.
    */
  private[graft] def featureCount(toks: Column, ngrams: Int): Column =
    if (ngrams == 1) size(toks)
    else when(size(toks) >= 2, size(toks) * lit(2) - lit(1))
      .otherwise(size(toks))

  /** [[hashedLinearScore]] with an explicit TRAINED weight table
    * (milli-units, one long per bucket; `dim = weightsMilli.length`)
    * instead of the md5-derived pseudo-model — the inference half of
    * [[learnHashedLinear]]. Same determinism contract as the t19
    * scorer: `score_milli` is an exact integer sum (order-free),
    * `logit` one IEEE division — bit-identical across engines. Pure
    * codegen projection, zero shuffle; the weight table ships as a
    * plan literal (a few KB for any realistic dim).
    *
    * `ngrams` must match the training call ([[featureBuckets]] is
    * the one shared builder): with `ngrams = 2` adjacent token
    * pairs hash into the same bucket space and `n_tokens` counts
    * FEATURES (2·tokens − 1), the normalizer the logit divides by.
    *
    * @return (idCol, n_tokens, score_milli, logit, keep) with
    *         keep = logit > 0.
    */
  def hashedLinearScoreWith(df: DataFrame, idCol: String,
                            textCol: String,
                            weightsMilli: Seq[Long],
                            ngrams: Int = 1): DataFrame = {
    val dim = weightsMilli.length
    require(dim > 0, "need a non-empty weight table")
    val toks = tokenize(col(textCol))
    val scoreMilli = graft.functions.bucket_dot(
      featureBuckets(toks, dim, ngrams), weightsMilli)
    df.select(col(idCol), featureCount(toks, ngrams).as("n_tokens"),
        scoreMilli.as("score_milli"))
      .withColumn("logit", col("score_milli").cast("double") /
        (lit(1000.0) * col("n_tokens")))
      .withColumn("keep", col("logit") > 0)
  }

  /** The trained classifier's logit as a plain COLUMN — the
    * composable form of [[hashedLinearScoreWith]] for pipelines that
    * must keep their own columns (a streaming filter stage, a
    * withColumn inside a bigger curation chain, a join key):
    * `df.withColumn("logit", hashedLinearLogit($"text", w))
    * .filter($"logit" > t)` appends the score without projecting
    * anything away. Bit-identical to the scorer frame's `logit`
    * (same [[featureBuckets]], same integer sum, same one division
    * — spec-pinned); pure codegen projection, streams as-is.
    */
  def hashedLinearLogit(text: Column, weightsMilli: Seq[Long],
                        ngrams: Int = 1): Column = {
    val dim = weightsMilli.length
    require(dim > 0, "need a non-empty weight table")
    val toks = tokenize(text)
    graft.functions.bucket_dot(
      featureBuckets(toks, dim, ngrams), weightsMilli).cast("double") /
      (lit(1000.0) * featureCount(toks, ngrams))
  }

  /** TRAIN the hashed-feature linear classifier — the learning half
    * of the fastText / DCLM-style quality-filter stage (Joulin et
    * al. 2016; the hashing trick per Weinberger et al. 2009), so the
    * curation pipeline's classifier filter no longer needs
    * externally-supplied weights: logistic-style regression by
    * full-batch gradient descent over the EXACT feature space the
    * t19 scorer consumes (token → md5-h32 → bucket mod dim; document
    * feature = bucket frequency, so a doc's logit is its mean bucket
    * weight).
    *
    * Deterministic BY CONSTRUCTION — bit-identical across runs,
    * partitionings, and engines (a DuckDB oracle replays the whole
    * optimization):
    *  - weights live in integer MICRO-units; a doc's margin
    *    numerator Σ w[bucket(t)] is an exact integer sum (any
    *    order), and the margin is one IEEE division
    *    `msum / (1e6 · n_tokens)`;
    *  - the squashing function is the RATIONAL sigmoid
    *    σ(m) = 0.5 + 0.5·(m / (1 + |m|)) — same shape and (0,1)
    *    range as the logistic, but built from +,·,/,|·| only, every
    *    one correctly rounded under IEEE 754, where exp() differs in
    *    the last ulp across math libraries (the same reasoning that
    *    spec-gates PSI's ln elsewhere — here the arithmetic is
    *    chosen so the trainer can be HASH-gated);
    *  - each doc's per-occurrence gradient contribution is
    *    quantized to an integer: c = floor(r·cw·1e6/n_tokens + 0.5)
    *    with r = σ(m) − y, so the per-bucket gradient Σ c is an
    *    exact integer sum — partial-combined map-side, order-free
    *    across any partitioning (the same fixed-point discipline as
    *    the tokenizer trainers);
    *  - the update is integer too: w[b] ← w[b] − floor(lr·G_b/N +
    *    0.5), N = training-doc count, for exactly `iters`
    *    iterations. No early stopping, no randomness, no shuffle-
    *    order sensitivity anywhere.
    *
    * `balanced = true` applies the standard class-balancing residual
    * weights cw = N/(2·N⁺) for positives and N/(2·N⁻) for negatives
    * (King & Zeng 2001's weighting, the `class_weight='balanced'`
    * convention) — essential when the positive class is rare (a 5%
    * marker class never escapes the majority prior unweighted). The
    * class counts are exact integers from one aggregation, so the
    * weights and everything downstream stay bit-deterministic;
    * `balanced = false` multiplies by exactly 1.0 (a no-op on the
    * pinned arithmetic). Requires both classes present when on.
    *
    * Scale: the tokenized corpus is projected once to per-doc bucket
    * arrays (ints — far smaller than the text) and cached; each
    * iteration is one cached scan computing margins/residuals as a
    * pure projection feeding ONE flat-array gradient aggregate
    * ([[graft.functions.bucket_hist]]: per-partition state and the
    * exchange payload are dim longs — no row per feature occurrence,
    * no per-bucket shuffle key), and dim longs collect to the driver
    * for the update — at 100 TB the per-iteration cost is the scan,
    * exactly like one scoring pass. Empty-token docs and null labels
    * are excluded (no features / no signal).
    *
    * @param labelCol 0/1 (numeric or boolean) target column
    * @param ngrams 1 = unigram buckets (the t19 feature space);
    *               2 = + hashed adjacent-token pairs
    *               ([[featureBuckets]]) — score with the SAME value
    * @return trained weights in MILLI-units (floor(micro/1000+0.5)),
    *         length `dim` — feed straight to
    *         [[hashedLinearScoreWith]]
    */
  def learnHashedLinear(df: DataFrame, textCol: String,
                        labelCol: String, dim: Int = 1024,
                        iters: Int = 10, lr: Double = 10.0,
                        balanced: Boolean = false,
                        ngrams: Int = 1)
      : Array[Long] = {
    require(dim > 0, "need dim > 0")
    require(iters >= 1, "need iters >= 1")
    require(lr > 0, "need lr > 0")
    // ngrams = 2 adds hashed adjacent-token-pair features (fastText
    // wordNgrams — see featureBuckets); n_tokens then counts
    // FEATURES, the margin/gradient normalizer, exactly what the
    // scorer divides by at inference
    val toks0 = tokenize(col(textCol))
    val feats = df.select(
        col(labelCol).cast("double").as("y"),
        featureCount(toks0, ngrams).as("n_tokens"),
        featureBuckets(toks0, dim, ngrams).as("bks"))
      .where(col("y").isNotNull && col("n_tokens") > 0)
    feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val head = feats.agg(count(lit(1)), sum(col("y"))).head()
      val n = head.getLong(0)
      require(n > 0, "learnHashedLinear: no labeled non-empty docs")
      val nPos = head.getDouble(1) // exact: a sum of 0.0/1.0
      val (wPos, wNeg) =
        if (!balanced) (1.0, 1.0)
        else {
          require(nPos > 0 && nPos < n,
            "balanced training needs both classes present")
          (n / (2.0 * nPos), n / (2.0 * (n - nPos)))
        }
      val cw = when(col("y") === 1.0, lit(wPos)).otherwise(lit(wNeg))
      var w = Array.fill(dim)(0L) // micro units
      for (_ <- 0 until iters) {
        val msum = graft.functions.bucket_dot(col("bks"), w.toSeq)
        val m = msum.cast("double") / (lit(1000000.0) * col("n_tokens"))
        val sg = lit(0.5) + lit(0.5) * (m / (lit(1.0) + abs(m)))
        val c = floor((sg - col("y")) * cw * lit(1000000.0) /
          col("n_tokens") + lit(0.5)).cast("long")
        // ONE flat-array aggregation (bucket_hist, round 16) instead
        // of explode → groupBy(bucket): per-partition state and the
        // exchange payload are dim longs, no row per feature
        // occurrence ever materializes, and the partial sums are the
        // same order-free exact int64s — grad is bit-identical
        // (buckets absent from the corpus read 0, and a 0 gradient
        // updates w[b] by floor(0 + 0.5) = 0, exactly the old
        // no-row-no-update)
        val grad = feats
          .agg(graft.functions.bucket_hist(col("bks"), c, dim))
          .head().getSeq[Long](0) // bounded artifact: dim longs
        val next = w.clone()
        var b = 0
        while (b < dim) {
          next(b) = w(b) -
            math.floor(lr * grad(b) / n + 0.5).toLong
          b += 1
        }
        w = next
      }
      w.map(x => math.floor(x / 1000.0 + 0.5).toLong)
    } finally { feats.unpersist(); () }
  }

  /** Classifier EVALUATION report — the measurement half of the
    * quality-filter loop ([[learnHashedLinear]] trains,
    * [[hashedLinearScoreWith]] filters, this says how well): one
    * aggregation pass over a scored frame with a boolean/0-1
    * `keepCol` prediction and a 0/1 `labelCol` truth, emitting the
    * exact confusion counts (tp/fp/fn/tn — rows where either side
    * is null are counted apart as `n_unknown`, never silently
    * dropped into a quadrant) plus accuracy, precision, recall and
    * F1. Per `by` group when given — "how does the filter do per
    * source/language", the slice view every deployment decision
    * needs.
    *
    * Determinism contract: the four quadrant counts are exact
    * integers (map-side-combined conditional counts — one scan, one
    * tiny exchange at any corpus size); each metric is a single
    * IEEE division of exact integers (F1 spelled 2·tp/(2·tp+fp+fn),
    * one division — the algebraic reduction of the harmonic mean,
    * avoiding the three-division spelling whose rounding would
    * differ), so every value replays bit-identically cross-engine.
    * Degenerate slices read NULL, not NaN: precision with no
    * positive predictions, recall with no positive labels, F1 when
    * its denominator is 0, accuracy on an all-unknown slice.
    */
  def classifierReport(df: DataFrame, labelCol: String,
                       keepCol: String,
                       by: Seq[String] = Seq.empty): DataFrame = {
    val y = col(labelCol).cast("int")
    val p = col(keepCol).cast("boolean")
    val known = y.isNotNull && p.isNotNull
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      count(when(!known, 1)).as("n_unknown"),
      count(when(known && p && y === 1, 1)).as("tp"),
      count(when(known && p && y === 0, 1)).as("fp"),
      count(when(known && !p && y === 1, 1)).as("fn"),
      count(when(known && !p && y === 0, 1)).as("tn"))
    val agged =
      if (by.isEmpty) df.agg(aggs.head, aggs.drop(1): _*)
      else df.groupBy(by.map(col): _*).agg(aggs.head, aggs.drop(1): _*)
    val tp = col("tp")
    val fp = col("fp")
    val fn = col("fn")
    val tn = col("tn")
    val nKnown = tp + fp + fn + tn
    val nullD = lit(null).cast("double")
    agged.select(by.map(col) ++ Seq(col("n_rows"), col("n_unknown"),
      tp, fp, fn, tn,
      when(nKnown === 0, nullD)
        .otherwise((tp + tn).cast("double") / nKnown).as("accuracy"),
      when(tp + fp === 0, nullD)
        .otherwise(tp.cast("double") / (tp + fp)).as("precision"),
      when(tp + fn === 0, nullD)
        .otherwise(tp.cast("double") / (tp + fn)).as("recall"),
      when(lit(2) * tp + fp + fn === 0, nullD)
        .otherwise((lit(2) * tp).cast("double") /
          (lit(2) * tp + fp + fn)).as("f1")): _*)
  }

  /** Platt-style CALIBRATION of a scorer's raw logits (Platt 1999,
    * "Probabilistic Outputs for Support Vector Machines" — the
    * public recipe): fit `p = σ(a·x + b)` over (score, 0/1 label)
    * by full-batch gradient descent so downstream consumers get a
    * calibrated keep-probability instead of an uncalibrated margin
    * (mixing corpora by classifier confidence, thresholding at a
    * target precision, importance weighting — all want
    * probabilities). Same determinism discipline as
    * [[learnHashedLinear]], hash-gateable end to end:
    *  - (a, b) live in integer MICRO-units (a starts at 1e6 = 1.0,
    *    b at 0); the margin is `(a·x + b) / 1e6` — two correctly-
    *    rounded IEEE ops over a deterministic score column;
    *  - σ is the RATIONAL sigmoid 0.5 + 0.5·(m / (1 + |m|)) (no
    *    exp);
    *  - per-doc gradient contributions quantize to integers
    *    (floor(r·x·1e6 + 0.5) for a, floor(r·1e6 + 0.5) for b), so
    *    the two gradient sums are order-free across partitionings;
    *  - integer updates, fixed `iters`. Per iteration: ONE scan,
    *    one two-long global aggregate — no shuffle of data rows.
    * Null scores/labels are excluded. Returns (aMicro, bMicro) —
    * feed to [[calibratedProb]].
    */
  def calibrateLogits(df: DataFrame, labelCol: String,
                      scoreCol: String, iters: Int = 10,
                      lr: Double = 10.0): (Long, Long) = {
    require(iters >= 1, "need iters >= 1")
    require(lr > 0, "need lr > 0")
    val base = df.select(col(labelCol).cast("double").as("y"),
        col(scoreCol).cast("double").as("x"))
      .where(col("y").isNotNull && col("x").isNotNull)
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // n rides the FIRST iteration's aggregation (round 16): the
      // iteration-1 gradients don't depend on n (only the update
      // does), so a separate count() pass bought nothing
      var n = -1L
      var a = 1000000L // micro units: identity slope
      var b = 0L
      for (it <- 0 until iters) {
        val m = (lit(a) * col("x") + lit(b)) / lit(1000000.0)
        val sg = lit(0.5) + lit(0.5) * (m / (lit(1.0) + abs(m)))
        val r = sg - col("y")
        val row = base.agg(
          sum(floor(r * col("x") * lit(1000000.0) + lit(0.5))
            .cast("long")).as("ga"),
          sum(floor(r * lit(1000000.0) + lit(0.5))
            .cast("long")).as("gb"),
          count(lit(1)).as("n")).head()
        if (it == 0) {
          n = row.getLong(2)
          require(n > 0, "calibrateLogits: no labeled scored rows")
        }
        a -= math.floor(lr * row.getLong(0) / n + 0.5).toLong
        b -= math.floor(lr * row.getLong(1) / n + 0.5).toLong
      }
      (a, b)
    } finally { base.unpersist(); () }
  }

  /** The calibrated keep-probability column for a raw score under
    * [[calibrateLogits]]' (aMicro, bMicro): σ((a·x + b)/1e6) with
    * the rational sigmoid — pure correctly-rounded arithmetic, so
    * the probability replays bit-identically cross-engine.
    * `prob > 0.5 ⇔ a·x + b > 0` (the calibrated decision boundary).
    */
  def calibratedProb(score: Column, aMicro: Long,
                     bMicro: Long): Column = {
    val m = (lit(aMicro) * score.cast("double") + lit(bMicro)) /
      lit(1000000.0)
    lit(0.5) + lit(0.5) * (m / (lit(1.0) + abs(m)))
  }

  /** The KEYED twin of [[calibrateLogits]] (round 16) — one Platt
    * (a_micro, b_micro) pair PER GROUP, fit simultaneously: the
    * action the keyed reliability audit ([[calibrationReport]] `by`
    * / [[eceBy]]) points at — when one source shows a gap under the
    * global fit, the fix is per-source calibration, and the
    * standalone form forced "filter to one group, collect, repeat"
    * (N driver actions, N scans). Here every group trains in the
    * SAME passes: per iteration ONE scan of the (cached) labeled
    * frame + one |groups|×2-long map-side-combined aggregate — the
    * global form's two-long aggregate, keyed. Each iteration's
    * (a, b) ship back in as a BROADCAST parameter frame (bounded:
    * one row per group — `by` is a bounded-cardinality column, the
    * standing keyed-curation contract), so data rows never shuffle.
    *
    * Arithmetic is the standalone's exactly — integer micro-unit
    * (a, b) seeded at (1e6, 0), rational sigmoid, per-doc gradient
    * contributions quantized to integers (order-free sums), integer
    * updates against the GROUP's own row count — so each group's
    * pair is BIT-IDENTICAL to `calibrateLogits` on that group's
    * filtered frame (spec-pinned), and the whole fit hash-replays.
    * Null scores/labels are excluded; a group with no labeled
    * scored rows has no output row (nothing to fit — the join in
    * [[calibratedProbBy]] then yields a NULL prob, never a silent
    * global fallback). Refuses an input with no labeled rows at all.
    *
    * @return by ++ (a_micro, b_micro) — one row per group with
    *         labeled scored rows; feed to [[calibratedProbBy]]
    */
  def calibrateLogitsBy(df: DataFrame, labelCol: String,
                        scoreCol: String, by: Seq[String],
                        iters: Int = 10,
                        lr: Double = 10.0): DataFrame = {
    require(by.nonEmpty,
      "calibrateLogitsBy: give the group columns (use " +
        "calibrateLogits for a global fit)")
    require(iters >= 1, "need iters >= 1")
    require(lr > 0, "need lr > 0")
    val spark = df.sparkSession
    val base = df.select(by.map(col) ++ Seq(
        col(labelCol).cast("double").as("y"),
        col(scoreCol).cast("double").as("x")): _*)
      .where(col("y").isNotNull && col("x").isNotNull)
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded artifacts throughout: one row per GROUP (the keyed-
      // curation cardinality contract), never per data row.
      // Iteration 1 needs no parameter join — every group sits at
      // the same (1e6, 0) seed — so it runs as ONE keyed aggregation
      // that also carries the per-group counts (round 16: the
      // separate counts pass and iteration 1's join both folded into
      // the same scan; gradients and updates are bit-identical, the
      // group key set is the same groupBy either way)
      def keyOf(r: org.apache.spark.sql.Row): List[Any] =
        by.indices.map(r.get).toList
      var ns: Map[List[Any], Long] = null
      var state: Map[List[Any], (Long, Long)] = null
      val kn = by.map("__k_" + _)
      val keySchema = org.apache.spark.sql.types.StructType(
        base.select(by.map(col): _*).schema.fields.zip(kn)
          .map { case (f, n) => f.copy(name = n) } ++ Seq(
          org.apache.spark.sql.types.StructField("__a",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("__b",
            org.apache.spark.sql.types.LongType, nullable = false)))
      // group keys join NULL-SAFELY: a NULL by value is a legitimate
      // group (groupBy keeps it) and plain equality would drop it
      val joinCond = by.zip(kn)
        .map { case (a, k) => col(a) <=> col(k) }.reduce(_ && _)
      for (it <- 0 until iters) {
        val first = it == 0
        val (aCol, bCol) =
          if (first) (lit(1000000L), lit(0L)) else (col("__a"), col("__b"))
        val m = (aCol * col("x") + bCol) / lit(1000000.0)
        val sg = lit(0.5) + lit(0.5) * (m / (lit(1.0) + abs(m)))
        val r = sg - col("y")
        val joined =
          if (first) base
          else {
            val rows: java.util.List[org.apache.spark.sql.Row] =
              java.util.Arrays.asList(state.toSeq.map {
                case (k, (a, b)) =>
                  org.apache.spark.sql.Row.fromSeq(k ++ Seq(a, b))
              }: _*)
            base.join(broadcast(
              spark.createDataFrame(rows, keySchema)), joinCond)
          }
        val grads = joined
          .groupBy(by.map(col): _*)
          .agg(sum(floor(r * col("x") * lit(1000000.0) + lit(0.5))
            .cast("long")).as("__ga"),
            sum(floor(r * lit(1000000.0) + lit(0.5))
              .cast("long")).as("__gb"),
            count(lit(1)).as("__n"))
          .collect()
        if (first) {
          require(grads.nonEmpty,
            "calibrateLogitsBy: no labeled scored rows")
          ns = grads.map(gr => keyOf(gr) -> gr.getLong(by.size + 2))
            .toMap
          state = ns.map { case (k, _) => k -> (1000000L, 0L) }
        }
        state = grads.map { gr =>
          val k = keyOf(gr)
          val (a, b) = state(k)
          val n = ns(k)
          k -> (a - math.floor(
              lr * gr.getLong(by.size) / n + 0.5).toLong,
            b - math.floor(
              lr * gr.getLong(by.size + 1) / n + 0.5).toLong)
        }.toMap
      }
      val outSchema = org.apache.spark.sql.types.StructType(
        base.select(by.map(col): _*).schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("a_micro",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("b_micro",
            org.apache.spark.sql.types.LongType, nullable = false)))
      val outRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(state.toSeq.map { case (k, (a, b)) =>
          org.apache.spark.sql.Row.fromSeq(k ++ Seq(a, b))
        }: _*)
      spark.createDataFrame(outRows, outSchema)
    } finally { base.unpersist(); () }
  }

  /** Apply a [[calibrateLogitsBy]] frame to a scored frame: one
    * BROADCAST join on the (null-safe) group keys, then the same
    * rational-sigmoid probability as [[calibratedProb]] — per-group
    * calibration at scoring time without a shuffle of the data rows.
    * Groups absent from the calibration frame (no labeled rows when
    * it was fit) read a NULL prob — visible, never a silent global
    * fallback.
    *
    * @return df + (probName) with the group's calibrated probability
    */
  def calibratedProbBy(df: DataFrame, calib: DataFrame,
                       scoreCol: String, by: Seq[String],
                       probName: String = "prob"): DataFrame = {
    require(by.nonEmpty, "calibratedProbBy: give the group columns")
    (by ++ Seq("a_micro", "b_micro")).foreach(c =>
      require(calib.columns.contains(c),
        s"calibratedProbBy: calibration frame has no '$c' column — " +
          "pass a calibrateLogitsBy output"))
    val kn = by.map("__k_" + _)
    val side = calib.select(
      by.zip(kn).map { case (c, k) => col(c).as(k) } ++
        Seq(col("a_micro").as("__a"), col("b_micro").as("__b")): _*)
    val cond = by.zip(kn)
      .map { case (a, k) => col(a) <=> col(k) }.reduce(_ && _)
    val m = (col("__a") * col(scoreCol).cast("double") + col("__b")) /
      lit(1000000.0)
    df.join(broadcast(side), cond, "left")
      .withColumn(probName,
        lit(0.5) + lit(0.5) * (m / (lit(1.0) + abs(m))))
      .drop(kn: _*).drop("__a", "__b")
  }

  /** Threshold SWEEP over a scored frame — how the keep threshold
    * gets CHOSEN (a trained filter's operating point is a
    * precision/recall trade the default `logit > 0` rarely
    * optimizes): one aggregation pass over the corpus computes, for
    * EVERY candidate threshold, the exact confusion counts of
    * `scoreCol > t` against the 0/1 `labelCol`, plus the same
    * one-division metrics as [[classifierReport]] — one output row
    * per threshold, sorted ascending. Pick the row whose
    * precision/recall fits the pipeline's budget and feed that
    * threshold to the filter.
    *
    * Scale/determinism: |thresholds| × 4 conditional counts, all
    * map-side combined in ONE scan (a 100-point sweep over 100 TB
    * costs one pass, not 100); thresholds are plan literals and
    * `score > t` on the deterministic score column replays exactly,
    * so the whole sweep is hash-gateable. Null scores/labels count
    * apart as `n_unknown` (same discipline as
    * [[classifierReport]]).
    *
    * `by` sweeps PER GROUP (per source / per language operating
    * points — a threshold tuned on the pooled corpus routinely
    * under-filters the noisiest slice): still one scan, the
    * |thresholds| × 4 conditional counts just aggregate under a
    * groupBy, one output row per (group, threshold).
    */
  def thresholdSweep(df: DataFrame, labelCol: String,
                     scoreCol: String,
                     thresholds: Seq[Double],
                     by: Seq[String] = Seq.empty): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: no thresholds")
    require(thresholds.distinct.size == thresholds.size,
      "thresholdSweep: duplicate thresholds")
    val y = col(labelCol).cast("int")
    val sc = col(scoreCol).cast("double")
    val known = y.isNotNull && sc.isNotNull
    val aggs = count(lit(1)).as("__n") +:
      count(when(!known, 1)).as("__u") +:
      thresholds.zipWithIndex.flatMap { case (t, i) =>
        val p = sc > lit(t)
        Seq(count(when(known && p && y === 1, 1)).as(s"__tp$i"),
          count(when(known && p && y === 0, 1)).as(s"__fp$i"),
          count(when(known && !p && y === 1, 1)).as(s"__fn$i"),
          count(when(known && !p && y === 0, 1)).as(s"__tn$i"))
      }
    val agged =
      if (by.isEmpty) df.agg(aggs.head, aggs.drop(1): _*)
      else df.groupBy(by.map(col): _*).agg(aggs.head, aggs.drop(1): _*)
    val nullD = lit(null).cast("double")
    val entries = thresholds.sorted.map { t =>
      val i = thresholds.indexOf(t)
      val tp = col(s"__tp$i")
      val fp = col(s"__fp$i")
      val fn = col(s"__fn$i")
      val tn = col(s"__tn$i")
      val nKnown = tp + fp + fn + tn
      struct(lit(t).as("threshold"),
        col("__n").as("n_rows"), col("__u").as("n_unknown"),
        tp.as("tp"), fp.as("fp"), fn.as("fn"), tn.as("tn"),
        when(nKnown === 0, nullD)
          .otherwise((tp + tn).cast("double") / nKnown)
          .as("accuracy"),
        when(tp + fp === 0, nullD)
          .otherwise(tp.cast("double") / (tp + fp)).as("precision"),
        when(tp + fn === 0, nullD)
          .otherwise(tp.cast("double") / (tp + fn)).as("recall"),
        when(lit(2) * tp + fp + fn === 0, nullD)
          .otherwise((lit(2) * tp).cast("double") /
            (lit(2) * tp + fp + fn)).as("f1"))
    }
    agged.select(by.map(col) :+ explode(array(entries: _*)).as("__t"): _*)
      .select(by.map(col) :+ col("__t.*"): _*)
  }

  /** Pick the OPERATING POINT from a [[thresholdSweep]] output — the
    * selection step that closes the train → score → sweep loop
    * ("filter at ≥ 98% precision" / "keep ≥ 90% of the good docs"
    * are how curation budgets are actually phrased): among swept
    * rows meeting the target, with `minPrecision` return the
    * threshold maximizing RECALL (most data kept at the precision
    * floor; ties → higher precision, then lower threshold), with
    * `minRecall` the threshold maximizing PRECISION (cleanest filter
    * still keeping enough; same tie order). Exactly one target must
    * be given. Pure selection over the sweep's bounded output
    * (|thresholds| rows — no new scan of the corpus); rows whose
    * precision or recall is NULL (degenerate slices) are never
    * feasible. Throws when NO swept threshold meets the target —
    * the caller must widen the sweep or lower the bar, silently
    * returning the least-bad point would defeat the budget.
    *
    * On a keyed sweep ([[thresholdSweep]] `by`), filter to ONE
    * group first — mixing groups would pick one group's point from
    * another group's counts.
    */
  def chooseThreshold(sweep: DataFrame,
                      minPrecision: Option[Double] = None,
                      minRecall: Option[Double] = None): Double = {
    require(minPrecision.isDefined != minRecall.isDefined,
      "chooseThreshold: give exactly one of minPrecision / minRecall")
    (minPrecision.toSeq ++ minRecall).foreach(v =>
      require(v >= 0.0 && v <= 1.0,
        s"chooseThreshold: target must be in [0, 1], got $v"))
    // bounded artifact: one row per swept threshold
    val rows = sweep.select(col("threshold").cast("double"),
      col("precision"), col("recall")).collect()
    require(rows.nonEmpty, "chooseThreshold: empty sweep")
    // an unfiltered KEYED sweep repeats every threshold once per
    // group — picking across groups would return one group's point
    // off another group's counts, silently; refuse the signature
    require(rows.map(_.getDouble(0)).distinct.length == rows.length,
      "chooseThreshold: duplicate thresholds in the sweep — this " +
        "looks like a keyed (by=) sweep; filter to ONE group first")
    val pts = rows.toSeq.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) =>
        (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val feasible = minPrecision match {
      case Some(mp) => pts.filter(_._2 >= mp)
      case None     => pts.filter(_._3 >= minRecall.get)
    }
    if (feasible.isEmpty) throw new IllegalArgumentException(
      s"chooseThreshold: no swept threshold meets " +
        minPrecision.map(p => s"precision >= $p")
          .getOrElse(s"recall >= ${minRecall.get}") +
        s" (swept: ${rows.map(_.getDouble(0)).sorted.mkString(", ")})" +
        " — widen the sweep or lower the target")
    val best = minPrecision match {
      case Some(_) => feasible.minBy { case (t, p, r) => (-r, -p, t) }
      case None    => feasible.minBy { case (t, p, r) => (-p, -r, t) }
    }
    best._1
  }

  /** Two-level (group, monotone score-bucket) prefix sums over the
    * distinct-score frame shared by [[aucReport]] and [[prAucReport]]
    * — the rank step, re-ranked (round 15) through the
    * [[Sampling.topQuantilePerKey]] histogram discipline so NO window
    * ever partitions by the group alone: a `Window.partitionBy(by)`
    * over distinct scores is a SINGLE task in the ungrouped spelling
    * and serializes a hot group in the keyed one — at raw-logit
    * cardinality that task holds the corpus. Here each distinct score
    * takes a monotone score-range bucket (grid from the per-group
    * exact min/max; bucket count = shuffle parallelism, value-
    * irrelevant — buckets only decompose exact integer prefix sums,
    * so any bucket count gives bit-identical output), cross-bucket
    * offsets come from a histogram SELF-JOIN over ≤ |groups|·B rows
    * (deliberately a join, not a window: the plan then contains no
    * unpartitioned Window node at all — PlanSpec pins this), and the
    * within-bucket window partitions by (group, bucket), so a hot
    * group ranks B-way parallel. Like its template, the stats/offset
    * broadcasts size with |groups|·B — `by` must be a bounded-
    * cardinality column (source/language shapes; the same contract as
    * every keyed curation op here). ±Inf/NaN scores take their own
    * sort-order-monotone buckets (-1 / b / b+1) and the grid spans
    * the FINITE min/max (round 16) — stray sentinel scores no
    * longer collapse the grid; only a genuinely degenerate finite
    * span (one distinct finite score, or a width that underflows)
    * falls back to a single finite bucket — correct, just not
    * bucket-parallel.
    *
    * Input: by ++ (__s, __cnt, __pos) — one row per (group, distinct
    * score), null __s = the group's unknown-rows row. Output: input +
    * (__pcnt, __ppos) — per-group running sums of __cnt/__pos over
    * distinct scores ascending (or `desc`ending), `inclusive` of the
    * current tie block or not. Meaningful for known rows only (the
    * null-score row rides through its own ≤1-row null-bucket
    * partition; every consumer guards on __s IS NOT NULL).
    */
  private def distinctScorePrefix(grouped: DataFrame, by: Seq[String],
      desc: Boolean, inclusive: Boolean): DataFrame = {
    val b = grouped.sparkSession.sessionState.conf.numShufflePartitions
    val s = col("__s")
    val known = grouped.filter(s.isNotNull)
    // every group-key equality below is NULL-SAFE (<=>): a NULL by
    // value is a legitimate group (groupBy keeps it), and a plain
    // equality would silently drop its stats/offsets — wrong prefix
    // sums instead of an error; the right-side keys rename through
    // fresh aliases so the self-referential joins stay conflict-proof
    def keyCond(right: Seq[String]) =
      by.zip(right).map { case (a, r) => col(a) <=> col(r) }
    val sn = by.map("__s_" + _)
    // the grid min/max come from FINITE scores only (round 16): a
    // single ±Inf in the column would otherwise stretch the span to
    // Inf and collapse every finite score into the degenerate
    // single-bucket fallback — the non-finite values instead take
    // their own sort-order-monotone buckets below, so a corpus with
    // stray sentinel scores still ranks bucket-parallel
    val isFin = !isnan(s) && s =!= Double.PositiveInfinity &&
      s =!= Double.NegativeInfinity
    val finite = known.filter(isFin)
    val stats = (if (by.isEmpty) finite.groupBy()
                 else finite.groupBy(by.map(col): _*))
      .agg(min(s).as("__smin"), max(s).as("__smax"))
      .toDF(sn ++ Seq("__smin", "__smax"): _*)
    val joined =
      if (by.isEmpty) grouped.crossJoin(broadcast(stats))
      else grouped.join(broadcast(stats),
        keyCond(sn).reduce(_ && _), "left").drop(sn: _*)
    val span = col("__smax") - col("__smin")
    // the bucket width is computed ONCE and the grid arm gates on
    // it, not on the span (round 16, advisor): a subnormal span can
    // underflow span/b to 0.0, whose quotient is ±Inf — under ANSI
    // the floor(..).cast would throw instead of falling back
    val wdt = span / lit(b.toDouble)
    // lazy CaseWhen guards: the grid division only evaluates on a
    // finite positive width (ANSI floor/cast on a NaN/Inf quotient
    // would throw); clamps keep s == smax in the last bucket. The
    // non-finite arms sit BEFORE the null-stats guard: a group whose
    // every score is ±Inf/NaN has no finite stats row, and its
    // buckets come from the score alone. Bucket ids stay monotone in
    // score order (Spark sorts -Inf < finite < +Inf < NaN):
    // -1 / [0, b) / b / b+1 — each non-finite value is one distinct
    // score, so its bucket holds ≤ 1 row per group.
    val bucket = when(s.isNull, lit(null).cast("long"))
      .when(isnan(s), lit(b + 1L))
      .when(s === Double.PositiveInfinity, lit(b.toLong))
      .when(s === Double.NegativeInfinity, lit(-1L))
      .when(wdt > 0.0 && wdt <= Double.MaxValue,
        least(lit(b - 1L), greatest(lit(0L),
          floor((s - col("__smin")) / wdt).cast("long"))))
      .otherwise(lit(0L))
    val bucketed = joined.withColumn("__b", bucket)
      .drop("__smin", "__smax")
    val hist = bucketed.filter(col("__b").isNotNull)
      .groupBy((by.map(col) :+ col("__b")): _*)
      .agg(sum(col("__cnt")).as("__hc"), sum(col("__pos")).as("__hp"))
    val on = by.map("__o_" + _)
    val other = hist.select(
      by.zip(on).map { case (n, o) => col(n).as(o) } ++
        Seq(col("__b").as("__ob"),
          col("__hc").as("__ohc"), col("__hp").as("__ohp")): _*)
    val bCond = if (desc) col("__ob") > col("__b")
                else col("__ob") < col("__b")
    val cond = keyCond(on).foldLeft(bCond)(_ && _)
    val bn = by.map("__g_" + _)
    val base = hist.select((by.map(col) :+ col("__b")): _*)
      .join(broadcast(other), cond, "left")
      .groupBy((by.map(col) :+ col("__b")): _*)
      .agg(coalesce(sum(col("__ohc")), lit(0L)).as("__basec"),
        coalesce(sum(col("__ohp")), lit(0L)).as("__basep"))
      .toDF(bn ++ Seq("__gb", "__basec", "__basep"): _*)
    val w = Window
      .partitionBy((by.map(col) :+ col("__b")): _*)
      .orderBy(if (desc) s.desc else s.asc)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) 0 else -1)
    bucketed
      .join(broadcast(base),
        (keyCond(bn) :+ (col("__b") <=> col("__gb"))).reduce(_ && _),
        "left")
      .drop(bn: _*).drop("__gb")
      .withColumn("__pcnt", coalesce(col("__basec"), lit(0L)) +
        coalesce(sum(col("__cnt")).over(w), lit(0L)))
      .withColumn("__ppos", coalesce(col("__basep"), lit(0L)) +
        coalesce(sum(col("__pos")).over(w), lit(0L)))
      .drop("__b", "__basec", "__basep")
  }

  /** The KEYED twin of [[chooseThreshold]] — one operating point per
    * group from a `by=` [[thresholdSweep]], in ONE distributed pass
    * over the sweep's bounded output (|groups|·|thresholds| rows) —
    * closing the per-source loop without N driver actions (the
    * standalone form forced "filter to one group, collect, repeat").
    * Same selection semantics per group as the standalone: with
    * `minPrecision` the feasible threshold maximizing RECALL (ties →
    * higher precision, then lower threshold), with `minRecall` the
    * one maximizing PRECISION (same tie order) — spelled as one
    * `max_by` over a lexicographic struct, so each group's pick is
    * exactly its standalone [[chooseThreshold]]. Groups where NO
    * swept threshold meets the target surface as a NULL threshold
    * row (never dropped, never a cross-group fallback) — at N
    * sources a blanket throw would hide the N−1 healthy picks;
    * filter `threshold IS NULL` to find the groups that need a wider
    * sweep. Degenerate rows (NULL precision/recall) are never
    * feasible; duplicate thresholds within a group (a malformed or
    * re-unioned sweep) and NULL thresholds (which a duplicate check
    * over `count(t)` would silently skip — round 16) raise, the
    * keyed analogue of the standalone's duplicate refusal; an EMPTY
    * sweep refuses too. The pick runs as ONE bounded action and the
    * result returns as a LOCAL relation (round 16): the lazy
    * spelling re-ran the whole sweep per consumer — the empty check
    * alone was a second corpus scan.
    *
    * @return by ++ (threshold) — one row per group in the sweep
    *         (a local relation; |groups| rows)
    */
  def chooseThresholds(sweep: DataFrame, by: Seq[String],
                       minPrecision: Option[Double] = None,
                       minRecall: Option[Double] = None): DataFrame = {
    require(by.nonEmpty,
      "chooseThresholds: give the sweep's by= columns (use " +
        "chooseThreshold for an ungrouped sweep)")
    require(minPrecision.isDefined != minRecall.isDefined,
      "chooseThresholds: give exactly one of minPrecision / minRecall")
    (minPrecision.toSeq ++ minRecall).foreach(v =>
      require(v >= 0.0 && v <= 1.0,
        s"chooseThresholds: target must be in [0, 1], got $v"))
    val t = col("threshold").cast("double")
    val p = col("precision")
    val r = col("recall")
    val feasible = p.isNotNull && r.isNotNull &&
      (minPrecision match {
        case Some(mp) => p >= mp
        case None     => r >= minRecall.get
      })
    // lexicographic pick key: (primary metric, secondary, -threshold)
    // — max_by over it replays the standalone's tie order; null key
    // rows (infeasible) are ignored, all-null groups read NULL
    val key = minPrecision match {
      case Some(_) => struct(r, p, negate(t))
      case None    => struct(p, r, negate(t))
    }
    val picked = sweep
      .groupBy(by.map(col): _*)
      // __n counts null-INCLUSIVELY (round 16, advisor): count(t)
      // skips NULL thresholds, which both let repeated NULL rows
      // through the duplicate check and made a NULL-threshold sweep
      // row indistinguishable from "no feasible pick" — a NULL
      // threshold is a malformed sweep and refuses up front
      .agg(count(lit(1)).as("__n"), count_distinct(t).as("__nd"),
        count(when(t.isNull, 1)).as("__nn"),
        max_by(when(feasible, t), when(feasible, key)).as("__pick"))
      .select(by.map(col) :+
        when(col("__nn") > 0,
          raise_error(lit("chooseThresholds: NULL threshold in the " +
            "sweep — malformed input (thresholdSweep never emits " +
            "one)")).cast("double"))
          .when(col("__n") =!= col("__nd"),
            raise_error(lit("chooseThresholds: duplicate thresholds " +
              "within a group — malformed or re-unioned sweep"))
              .cast("double"))
          .otherwise(col("__pick")).as("threshold"): _*)
    // materialize the bounded picks (|groups| rows — the keyed-
    // curation cardinality contract) and return a LOCAL relation
    // (the d49 discipline, round 16): the former lazy frame made
    // every consumer recompute the whole sweep — the up-front empty
    // check alone was a second full corpus scan — and a downstream
    // broadcast join re-ran it a third time; one pass computes the
    // same rows, the same malformed-sweep raises fire here, and the
    // empty-sweep refusal reads the collected row count
    val rows = picked.collect()
    require(rows.nonEmpty, "chooseThresholds: empty sweep")
    sweep.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), picked.schema)
  }

  /** APPLY a [[chooseThresholds]] frame as the keep filter — the
    * step that closes the keyed loop (sweep → pick → FILTER) without
    * hand-writing the join: one BROADCAST join of the bounded picks
    * frame on the (null-safe) group keys, then `score > threshold`
    * per the row's own group — the data rows never shuffle, the
    * filter composes with pushdown like any scan predicate.
    *
    * Rows whose group has NO usable pick — absent from the picks
    * frame (a stale pick table) or a NULL threshold (the picker
    * found no feasible point) — REFUSE at execution by default:
    * keeping them unfiltered would silently break the precision
    * budget, dropping them would silently lose a source. Pass
    * `dropUnpicked = true` to make the drop explicit instead
    * (the deliberate "publish only the sources with an operating
    * point" spelling; the dropped groups stay visible in the picks
    * frame's NULL rows).
    *
    * @return df filtered to rows with `score > ` their group's
    *         threshold (original columns unchanged)
    */
  def applyThresholds(df: DataFrame, picks: DataFrame,
                      scoreCol: String, by: Seq[String],
                      dropUnpicked: Boolean = false): DataFrame = {
    require(by.nonEmpty, "applyThresholds: give the group columns")
    (by :+ "threshold").foreach(c =>
      require(picks.columns.contains(c),
        s"applyThresholds: picks frame has no '$c' column — pass a " +
          "chooseThresholds output"))
    val kn = by.map("__k_" + _)
    val side = picks.select(
      by.zip(kn).map { case (c, k) => col(c).as(k) } :+
        col("threshold").as("__t"): _*)
    val cond = by.zip(kn)
      .map { case (a, k) => col(a) <=> col(k) }.reduce(_ && _)
    val keep =
      if (dropUnpicked) col("__t").isNotNull &&
        col(scoreCol).cast("double") > col("__t")
      else when(col("__t").isNull,
          raise_error(lit("applyThresholds: a row's group has no " +
            "usable pick (absent from the picks frame or a NULL " +
            "threshold) — widen the sweep, or pass dropUnpicked = " +
            "true to drop such groups explicitly")).cast("boolean"))
        .otherwise(col(scoreCol).cast("double") > col("__t"))
    df.join(broadcast(side), cond, "left")
      .filter(keep)
      .drop(kn: _*).drop("__t")
  }

  /** BRIER SCORE — the proper-scoring-rule companion to [[ece]]
    * (ECE measures binned reliability; the Brier score mean((p−y)²)
    * is the un-binned strictly-proper number that also prices
    * resolution, the standard second opinion on a calibrated
    * scorer): one aggregation pass; each row's squared error
    * quantizes to integer MICRO-units (floor((p−y)²·1e6 + 0.5) ≤
    * 1e6 — the house fixed-point discipline, so the sum is
    * order-free exact int64 at any corpus size) and the score is
    * ONE division by 1e6·n — bit-replayable cross-engine;
    * quantization bias one-sided < 5e-7. Null labels/probs, non-0/1
    * labels, and probs outside [0, 1] count apart as `n_unknown`
    * (the [[calibrationReport]] contract); no-known-row groups read
    * NULL, never NaN. Per `by` group when given — the per-source
    * spelling every sibling metric has.
    *
    * @return by ++ (n_rows, n_unknown, brier)
    */
  def brierScore(df: DataFrame, labelCol: String, probCol: String,
                 by: Seq[String] = Seq.empty): DataFrame = {
    val y = col(labelCol).cast("int")
    val p = col(probCol).cast("double")
    val known = y.isNotNull && p.isNotNull && (y === 0 || y === 1) &&
      p >= 0.0 && p <= 1.0
    val d = p - y.cast("double")
    val term = floor(d * d * lit(1000000.0) + lit(0.5)).cast("long")
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      count(when(!known, 1)).as("n_unknown"),
      count(when(known, 1)).as("__nk"),
      coalesce(sum(when(known, term)), lit(0L)).as("__se"))
    val agged =
      if (by.isEmpty) df.agg(aggs.head, aggs.drop(1): _*)
      else df.groupBy(by.map(col): _*).agg(aggs.head, aggs.drop(1): _*)
    agged.select(by.map(col) ++ Seq(col("n_rows"), col("n_unknown"),
      when(col("__nk") === 0, lit(null).cast("double"))
        .otherwise(col("__se").cast("double") /
          (lit(1000000.0) * col("__nk"))).as("brier")): _*)
  }

  /** The (group, distinct score) count frame every ranking metric
    * and curve here starts from — one scan, one groupBy(score)
    * shuffle (map-side combined): per (group, distinct quantized
    * score), total rows and positive rows; unknown rows (null /
    * non-0-1 label, null score) collect under a null score key and
    * ride the same pass.
    */
  private def distinctScoreCounts(df: DataFrame, labelCol: String,
      scoreCol: String, by: Seq[String],
      quantizeDecimals: Option[Int]): DataFrame = {
    val y = col(labelCol).cast("int")
    val sc0 = col(scoreCol).cast("double")
    val sc = quantizeDecimals.map(q => round(sc0, q)).getOrElse(sc0)
    val known = y.isNotNull && sc.isNotNull && (y === 0 || y === 1)
    df.groupBy((by.map(col) :+ when(known, sc).as("__s")): _*)
      .agg(count(lit(1)).as("__cnt"),
        count(when(known && y === 1, 1)).as("__pos"))
  }

  /** Per-group (n_pos, n_neg) totals over the known rows of a
    * [[distinctScoreCounts]] frame, renamed through fresh aliases
    * for a conflict-proof broadcast join back onto the ranked rows
    * (the [[distinctScorePrefix]] stats discipline — the totals
    * aggregate over the same distinct-score subtree, so the shuffle
    * is reused, not a second corpus scan). Bounded: one row per
    * group.
    */
  private def curveTotals(grouped: DataFrame, by: Seq[String],
                          tn: Seq[String]): DataFrame = {
    val known = grouped.filter(col("__s").isNotNull)
    (if (by.isEmpty) known.groupBy()
     else known.groupBy(by.map(col): _*))
      .agg(sum(col("__pos")).as("__np"),
        sum(col("__cnt") - col("__pos")).as("__nn"))
      .toDF(tn ++ Seq("__np", "__nn"): _*)
  }

  /** The ROC CURVE as a table — the per-distinct-score (fpr, tpr)
    * points [[aucReport]] integrates, emitted for inspection (which
    * sweep grid to hand [[thresholdSweep]], where the ranking
    * actually bends, plotting): one row per (group, distinct score),
    * descending score = the operating point "keep everything scoring
    * ≥ this": tp/fp = positives/negatives at or above the score
    * (ties enter together, the tie-block convention the exact AUC
    * uses), tpr = tp/n⁺, fpr = fp/n⁻ — each one IEEE division of
    * exact integers, so the whole table hash-replays. Single-class
    * groups read NULL tpr (no positives) or fpr (no negatives),
    * never NaN; unknown rows (null/non-0-1 label, null score) are
    * excluded — [[aucReport]] carries their count.
    *
    * Scale contract = [[aucReport]]'s: one groupBy(score) shuffle,
    * the [[distinctScorePrefix]] two-level bucketed rank (no window
    * ever partitions by the group alone), per-group totals as a
    * broadcast off the same distinct-score subtree. Output size is
    * the distinct-score cardinality — `quantizeDecimals` is the
    * same pre-rounding knob when the score is genuinely continuous.
    *
    * @return by ++ (score, tp, fp, tpr, fpr), best score first
    */
  def rocCurve(df: DataFrame, labelCol: String, scoreCol: String,
               by: Seq[String] = Seq.empty,
               quantizeDecimals: Option[Int] = None): DataFrame = {
    quantizeDecimals.foreach(q => require(q >= 0,
      s"rocCurve: quantizeDecimals must be >= 0, got $q"))
    val grouped = distinctScoreCounts(df, labelCol, scoreCol, by,
      quantizeDecimals)
    val ranked = distinctScorePrefix(grouped, by,
        desc = true, inclusive = true)
      .filter(col("__s").isNotNull)
    val tn = by.map("__t_" + _)
    val totals = curveTotals(grouped, by, tn)
    val joined =
      if (by.isEmpty) ranked.crossJoin(broadcast(totals))
      else ranked.join(broadcast(totals),
        by.zip(tn).map { case (a, t) => col(a) <=> col(t) }
          .reduce(_ && _), "left").drop(tn: _*)
    val tp = col("__ppos")
    val fp = col("__pcnt") - col("__ppos")
    val nullD = lit(null).cast("double")
    joined.select(by.map(col) ++ Seq(col("__s").as("score"),
      tp.as("tp"), fp.as("fp"),
      when(col("__np").isNull || col("__np") === 0, nullD)
        .otherwise(tp.cast("double") / col("__np")).as("tpr"),
      when(col("__nn").isNull || col("__nn") === 0, nullD)
        .otherwise(fp.cast("double") / col("__nn")).as("fpr")): _*)
      .orderBy((by.map(col) :+ col("score").desc): _*)
  }

  /** The PRECISION-RECALL CURVE as a table — the per-distinct-score
    * (recall, precision) points [[prAucReport]] integrates (the
    * rare-class view: where precision collapses as the keep
    * threshold loosens is exactly what the scalar AP hides): one
    * row per (group, distinct score), descending score; tp / n_kept
    * = positives / rows at or above the score (tie blocks enter
    * together), precision = tp/n_kept, recall = tp/n⁺ — exact
    * integer divisions, hash-replayable. No-positive groups read
    * NULL recall; unknown rows are excluded ([[prAucReport]]
    * carries their count). Scale contract and `quantizeDecimals`
    * knob = [[rocCurve]]'s.
    *
    * @return by ++ (score, tp, n_kept, precision, recall), best
    *         score first
    */
  def prCurve(df: DataFrame, labelCol: String, scoreCol: String,
              by: Seq[String] = Seq.empty,
              quantizeDecimals: Option[Int] = None): DataFrame = {
    quantizeDecimals.foreach(q => require(q >= 0,
      s"prCurve: quantizeDecimals must be >= 0, got $q"))
    val grouped = distinctScoreCounts(df, labelCol, scoreCol, by,
      quantizeDecimals)
    val ranked = distinctScorePrefix(grouped, by,
        desc = true, inclusive = true)
      .filter(col("__s").isNotNull)
    val tn = by.map("__t_" + _)
    val totals = curveTotals(grouped, by, tn)
    val joined =
      if (by.isEmpty) ranked.crossJoin(broadcast(totals))
      else ranked.join(broadcast(totals),
        by.zip(tn).map { case (a, t) => col(a) <=> col(t) }
          .reduce(_ && _), "left").drop(tn: _*)
    val tp = col("__ppos")
    val nullD = lit(null).cast("double")
    joined.select(by.map(col) ++ Seq(col("__s").as("score"),
      tp.as("tp"), col("__pcnt").as("n_kept"),
      (tp.cast("double") / col("__pcnt")).as("precision"),
      when(col("__np").isNull || col("__np") === 0, nullD)
        .otherwise(tp.cast("double") / col("__np")).as("recall")): _*)
      .orderBy((by.map(col) :+ col("score").desc): _*)
  }

  /** EXACT ROC-AUC of a scorer against 0/1 labels — the threshold-
    * free quality number (Mann–Whitney U: the probability a random
    * positive outscores a random negative, ties at half credit) that
    * ranks scorer candidates before any operating point is chosen;
    * the sweep family measures one threshold, this measures the
    * whole ranking. Exact, not trapezoid-approximated, via average
    * ranks: AUC = (Σ_{pos} rank − n⁺(n⁺+1)/2) / (n⁺·n⁻), computed
    * in HALF-RANK integer units so tie averages stay integers —
    * sumRanks2 = Σ over distinct scores pos·(2·cumBefore + cnt + 1)
    * is an exact integer sum, and the AUC is ONE IEEE division of
    * exact integers: bit-replayable cross-engine, like every metric
    * here. Rows with a null/non-0-1 label or null score count apart
    * as `n_unknown`; single-class groups read NULL AUC, never NaN.
    * Per `by` group when given (per-source scorer quality).
    *
    * Scale: one groupBy(score) shuffle (map-side combined), then the
    * [[distinctScorePrefix]] two-level bucketed rank over DISTINCT
    * scores — no window ever partitions by the group alone, so the
    * ungrouped spelling and a hot group both rank B-way parallel
    * even when the distinct-score table is raw-logit-sized (still
    * quantize a genuinely continuous score first, e.g.
    * `round(score, 6)` — a corpus-cardinality distinct table is
    * parallel now, but it is work the metric does not need).
    * Rank arithmetic overflows int64 past ~2·10⁹ known rows per
    * group — refused at runtime, sample or stratify above it.
    * `quantizeDecimals` is that quantization as a knob: scores round
    * half-up at the given decimal BEFORE grouping — identical to
    * pre-rounding the column yourself (spec-pinned), just impossible
    * to forget at the call site.
    *
    * @return by ++ (n_rows, n_unknown, n_pos, n_neg, auc)
    */
  def aucReport(df: DataFrame, labelCol: String, scoreCol: String,
                by: Seq[String] = Seq.empty,
                quantizeDecimals: Option[Int] = None): DataFrame = {
    quantizeDecimals.foreach(q => require(q >= 0,
      s"aucReport: quantizeDecimals must be >= 0, got $q"))
    // one grouped row per (group, distinct score); unknown rows
    // collect under a null score key and ride the same single scan
    val grouped = distinctScoreCounts(df, labelCol, scoreCol, by,
      quantizeDecimals)
    // exclusive ascending rank prefix over distinct scores, via the
    // two-level bucketed discipline (known buckets hold known rows
    // only, so the prefix never needs a null guard)
    val ranked = distinctScorePrefix(grouped, by,
        desc = false, inclusive = false)
      .withColumnRenamed("__pcnt", "__cum")
    val isK = col("__s").isNotNull
    val aggs = Seq(
      sum(col("__cnt")).as("n_rows"),
      coalesce(sum(when(!isK, col("__cnt"))), lit(0L))
        .as("n_unknown"),
      coalesce(sum(when(isK, col("__pos"))), lit(0L)).as("n_pos"),
      coalesce(sum(when(isK, col("__cnt") - col("__pos"))), lit(0L))
        .as("n_neg"),
      coalesce(sum(when(isK, col("__pos") *
        (lit(2L) * col("__cum") + col("__cnt") + lit(1L)))), lit(0L))
        .as("__sr2"))
    val agged =
      if (by.isEmpty) ranked.agg(aggs.head, aggs.drop(1): _*)
      else ranked.groupBy(by.map(col): _*).agg(aggs.head, aggs.drop(1): _*)
    val np = col("n_pos")
    val nn = col("n_neg")
    val auc = when(np + nn > lit(2000000000L),
        raise_error(lit("aucReport: rank arithmetic overflows " +
          "int64 past ~2e9 known rows per group — sample or " +
          "stratify first")).cast("double"))
      .when(np === 0 || nn === 0, lit(null).cast("double"))
      .otherwise((col("__sr2") - np * (np + lit(1L))).cast("double") /
        (lit(2L) * np * nn))
    agged.select(by.map(col) ++ Seq(col("n_rows"), col("n_unknown"),
      np, nn, auc.as("auc")): _*)
  }

  /** EXACT PR-AUC (average precision) — the ranking-quality number
    * that matters for RARE positive classes, which is what curation
    * labels are (a 5% marker class can score ROC-AUC 0.95 while
    * drowning every positive in false keeps; precision-recall space
    * shows it): AP = Σ_g (pos_g / n⁺)·(P_g / C_g) over distinct
    * scores DESCENDING, with P_g/C_g the cumulative positives/rows
    * through the tie block — the step-interpolated area under the
    * precision-recall curve, ties sharing their block's precision.
    * Each term is quantized to integer NANO-units by exact integer
    * arithmetic — term_u = (pos_g·P_g div C_g)·10⁹ +
    * (pos_g·P_g mod C_g)·10⁹ div C_g, every step int64-exact — so
    * the term sum is a COMMUTATIVE integer sum: order-free,
    * distributed, map-side combined, and bit-replayable cross-engine
    * by construction (strictly stronger than the pinned-order float
    * fold this replaced in round 15, which kept a whole group's
    * terms in one collect_list buffer to pin the fold order; an
    * order-free sum needs no order and no buffer). One final
    * division by 10⁹·n⁺ closes it; the quantization bias is
    * one-sided and < 10⁻⁹ on the AP (< n⁺ floor losses of 10⁻⁹
    * each, ÷ n⁺). Unknown rows (null/non-0-1 label, null score)
    * count apart; no-positive groups read NULL, never NaN. Per `by`
    * group when given.
    *
    * Scale contract = [[aucReport]]'s: one groupBy(score) shuffle,
    * the [[distinctScorePrefix]] two-level bucketed rank (no window
    * partitions by the group alone — ungrouped and hot-group
    * spellings stay parallel at any distinct-score cardinality),
    * int64-overflow refusal past ~2·10⁹ known rows a group;
    * `quantizeDecimals` = [[aucReport]]'s pre-rounding knob.
    *
    * @return by ++ (n_rows, n_unknown, n_pos, n_neg, pr_auc)
    */
  def prAucReport(df: DataFrame, labelCol: String, scoreCol: String,
                  by: Seq[String] = Seq.empty,
                  quantizeDecimals: Option[Int] = None): DataFrame = {
    quantizeDecimals.foreach(q => require(q >= 0,
      s"prAucReport: quantizeDecimals must be >= 0, got $q"))
    val grouped = distinctScoreCounts(df, labelCol, scoreCol, by,
      quantizeDecimals)
    val isK = col("__s").isNotNull
    // cumulative (rows, positives) through each tie block, best
    // score first — inclusive descending two-level bucketed rank
    // (known buckets hold known rows only; the null-score row rides
    // its own ≤1-row partition and every consumer guards on isK)
    val ranked0 = distinctScorePrefix(grouped, by,
        desc = true, inclusive = true)
      .withColumnRenamed("__pcnt", "__ccnt")
      .withColumnRenamed("__ppos", "__cpos")
    // nano-unit integer term: (pos·P div C)·1e9 + (pos·P mod C)·1e9
    // div C — each step int64-exact under the 2e9 refusal (pos·P ≤
    // 4e18, quotient ≤ pos ≤ 2e9 so q·1e9 ≤ 2e18, remainder < C ≤
    // 2e9 so r·1e9 ≤ 2e18); the lazy when() keeps the div off the
    // term-free rows
    val ranked = ranked0
      .withColumn("__pp", col("__pos") * col("__cpos"))
      .withColumn("__tu", when(isK && col("__pos") > 0,
        expr("(__pp div __ccnt) * 1000000000L + " +
          "(pmod(__pp, __ccnt) * 1000000000L) div __ccnt")))
    val aggs = Seq(
      sum(col("__cnt")).as("n_rows"),
      coalesce(sum(when(!isK, col("__cnt"))), lit(0L))
        .as("n_unknown"),
      coalesce(sum(when(isK, col("__pos"))), lit(0L)).as("n_pos"),
      coalesce(sum(when(isK, col("__cnt") - col("__pos"))), lit(0L))
        .as("n_neg"),
      // order-free exact integer sum (≤ n⁺·1e9 ≤ 2e18, inside
      // int64); sum skips the null terms (unknown / pos-free rows)
      coalesce(sum(col("__tu")), lit(0L)).as("__tsum"))
    val agged =
      if (by.isEmpty) ranked.agg(aggs.head, aggs.drop(1): _*)
      else ranked.groupBy(by.map(col): _*).agg(aggs.head, aggs.drop(1): _*)
    val np = col("n_pos")
    val prAuc = when(np + col("n_neg") > lit(2000000000L),
        raise_error(lit("prAucReport: rank arithmetic overflows " +
          "int64 past ~2e9 known rows per group — sample or " +
          "stratify first")).cast("double"))
      .when(np === 0, lit(null).cast("double"))
      .otherwise(col("__tsum").cast("double") / (lit(1.0e9) * np))
    agged.select(by.map(col) ++ Seq(col("n_rows"), col("n_unknown"),
      np, col("n_neg"), prAuc.as("pr_auc")): _*)
  }

  /** Calibration-quality report — does a claimed probability MEAN
    * its number (a 0.9-confidence bucket should be right 90% of the
    * time): the reliability-diagram table (Guo et al. 2017's ECE
    * binning, the standard recipe) over a scored frame with a
    * probability column in [0, 1] and a 0/1 label. One aggregation
    * pass bins rows into `nBins` equal-width probability buckets
    * (the 1.0 edge folds into the top bin) and emits, per non-empty
    * bin: exact counts, the exact positive fraction (accuracy of
    * the bin, one division), and the bin's mean claimed probability
    * — summed in integer MICRO-units (floor(p·1e6 + 0.5), exact in
    * any order — the house fixed-point discipline) so the mean is
    * one division too; `gap` = mean_prob − frac_pos (signed:
    * positive = overconfident) is one subtraction of two exactly-
    * determined doubles. Everything hash-replays. Null labels/probs
    * and probs outside [0, 1] count apart as the `n_unknown` of a
    * null-bin row, never silently binned. Feed the rows to [[ece]]
    * ([[eceBy]] when keyed) for the one-number summary.
    *
    * Per `by` group when given (round 15 — the per-source twin every
    * sibling metric already had: per-source reliability is how a
    * confidence-weighted mixture is actually audited), from the SAME
    * one aggregation pass keyed (by..., bin).
    */
  def calibrationReport(df: DataFrame, labelCol: String,
                        probCol: String, nBins: Int = 10,
                        by: Seq[String] = Seq.empty)
      : DataFrame = {
    require(nBins >= 1, s"calibrationReport: need nBins >= 1")
    val y = col(labelCol).cast("int")
    val p = col(probCol).cast("double")
    val known = y.isNotNull && p.isNotNull && (y === 0 || y === 1) &&
      p >= 0.0 && p <= 1.0
    val bin = when(known,
      least(floor(p * lit(nBins)).cast("int"), lit(nBins - 1)))
    df.groupBy((by.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"),
        count(when(y === 1 && known, 1)).as("n_pos"),
        coalesce(sum(when(known,
          floor(p * lit(1000000.0) + lit(0.5)).cast("long"))),
          lit(0L)).as("__sp"))
      .select(by.map(col) ++ Seq(col("bin"),
        (col("bin").cast("double") / lit(nBins)).as("bin_lo"),
        col("n"), col("n_pos"),
        when(col("bin").isNull, lit(null).cast("double"))
          .otherwise(col("n_pos").cast("double") / col("n"))
          .as("frac_pos"),
        when(col("bin").isNull, lit(null).cast("double"))
          .otherwise(col("__sp").cast("double") /
            (lit(1000000.0) * col("n"))).as("mean_prob")): _*)
      .withColumn("gap", col("mean_prob") - col("frac_pos"))
      .orderBy((by.map(col) :+ col("bin").asc_nulls_last): _*)
  }

  /** The keyed twin of [[ece]]: one Expected Calibration Error row
    * per group from a keyed [[calibrationReport]] — the same
    * bin-ordered fold (Σ_b (n_b/N)·|gap_b|, division before
    * multiplication, exactly the scalar form's arithmetic, so each
    * group's value is bit-identical to its standalone [[ece]]),
    * spelled as a per-group sorted-array fold: the bin table is
    * ≤ nBins + 1 rows per group BY CONSTRUCTION, so the fold buffer
    * is caller-bounded, not data-bounded. Groups with no known rows
    * read 0.0, like the scalar form.
    *
    * @return by ++ (ece)
    */
  def eceBy(report: DataFrame, by: Seq[String]): DataFrame = {
    require(by.nonEmpty,
      "eceBy: give the report's by= columns (use ece for an " +
        "ungrouped report)")
    val isK = col("bin").isNotNull
    report
      .groupBy(by.map(col): _*)
      .agg(coalesce(sum(when(isK, col("n"))), lit(0L)).as("__nk"),
        sort_array(collect_list(when(isK,
          struct(col("bin"), col("n"), col("gap"))))).as("__bins"))
      .select(by.map(col) :+
        when(col("__nk") === 0, lit(0.0))
          .otherwise(aggregate(col("__bins"), lit(0.0), (acc, x) =>
            acc + x.getField("n").cast("double") / col("__nk") *
              abs(x.getField("gap")))).as("ece"): _*)
  }

  /** Expected Calibration Error from a [[calibrationReport]] output:
    * ECE = Σ_b (n_b / N)·|gap_b| over known bins, folded in bin
    * order on the driver (bounded: ≤ nBins + 1 rows) — the scalar
    * the re-calibration loop optimizes. 0 when no known rows.
    * Keyed reports → [[eceBy]].
    */
  def ece(report: DataFrame): Double = {
    // bounded artifact: one row per bin
    val rows = report.select(col("bin"), col("n"), col("gap"))
      .collect()
      .collect { case r if !r.isNullAt(0) =>
        (r.getInt(0), r.getLong(1), r.getDouble(2)) }
      .sortBy(_._1)
    val n = rows.map(_._2).sum
    if (n == 0L) 0.0
    else rows.foldLeft(0.0) { case (acc, (_, nb, gap)) =>
      acc + nb.toDouble / n * math.abs(gap) }
  }

  /** Blocklist / policy-phrase scan — the safety-filter stage of a
    * curation pipeline: per document, how many times any listed
    * phrase occurs (every start position, overlapping included,
    * byte-exact substring semantics — pair with [[normalizeText]]
    * upstream for case-insensitive lists) plus which phrases hit.
    * One Aho–Corasick automaton pass per document where k regexes
    * pay k passes; the phrase list ships once in the plan closure
    * and the automaton builds lazily per JVM.
    *
    * Pure per-row projection: no shuffle, no state, streams as-is.
    *
    * @return df + (n_hits, n_phrases, hit_phrases) — total
    *         occurrences, distinct phrases matched, and the matched
    *         phrases sorted and comma-joined (empty when clean)
    */
  def blocklistStats(df: DataFrame, textCol: String,
                     phrases: Seq[String]): DataFrame = {
    val cc = graft.functions.multi_pattern_counts(col(textCol), phrases)
    val parr = array(phrases.map(lit): _*)
    df.withColumn("__c", cc)
      .withColumn("n_hits",
        aggregate(col("__c"), lit(0L), (acc, x) => acc + x))
      .withColumn("__hit",
        filter(parr, (_, i) => element_at(col("__c"), i + 1) > 0))
      .withColumn("n_phrases", size(col("__hit")).cast("bigint"))
      .withColumn("hit_phrases", array_join(array_sort(col("__hit")), ","))
      .drop("__c", "__hit")
  }

  /** Keep only documents containing NONE of the listed phrases — the
    * drop half of [[blocklistStats]], as one pure scan filter with
    * first-hit early exit and zero per-row allocation (the counting
    * form would allocate and zero a k-wide array per row; at a 100k-
    * phrase list that array IS the scan cost).
    */
  def dropBlocklisted(df: DataFrame, textCol: String,
                      phrases: Seq[String]): DataFrame =
    df.filter(!graft.functions.multi_pattern_any(col(textCol), phrases))

  /** BM25 against a whole QUERY TABLE — the retrieval spelling that
    * scales to "every eval prompt vs the corpus" (the single-query
    * [[bm25Scores]] is the interactive form): queries tokenize to a
    * distinct (query_id, term) frame; the corpus explodes ONCE into
    * (doc, term, tf) restricted to the query-term set by a broadcast
    * semi join (the union of eval-suite terms is small by
    * construction — thousands of prompts × tens of terms — and the
    * corpus never reshuffles for statistics it doesn't need); df per
    * term falls out of the same (doc, term) frame; scoring joins the
    * tf frame to the query terms on `term` and folds contributions
    * per (query, doc) in ASCENDING TERM ORDER via an array-sorted
    * fold — floating-point addition is order-sensitive, and a
    * deterministic order is what makes the operator reproducible
    * run-to-run AND replayable cross-engine (the same discipline as
    * every hash-gated float pipeline here).
    *
    * One shuffle on (doc, term) for tf, one on (query, doc) for the
    * fold — both keyed finely (never on the raw term alone for data
    * rows, so a stop-word-ish query term cannot serialize scoring).
    * Output: (query_id, id, n_matched, score), matching docs only.
    *
    * HOT-TERM GUARD (`maxDf`): a stop-word-grade query term ("the")
    * matches nearly every document — its (doc, term, tf) rows are
    * corpus-sized, they inflate the scoring join and the
    * (query, doc) fold's input, and the smooth idf prices them at
    * ≈ln(1) ≈ 0 anyway: all cost, no signal, and the design-envelope
    * skew risk of this operator at 100 TB. `maxDf = Some(cap)`
    * drops terms whose document frequency exceeds the cap BEFORE
    * the scoring join — the df table is term-cardinality-small and
    * broadcast, so hot-term rows die map-side and never enter an
    * exchange. Capped semantics are exactly "the query minus its
    * ubiquitous terms": `n_matched`/`score` count surviving terms
    * only (spec-pinned against the stripped-query replay); a query
    * of ONLY hot terms matches nothing. Default `None` = classic
    * full BM25.
    */
  def bm25ScoresMany(corpus: DataFrame, idCol: String,
                     textCol: String, queries: DataFrame,
                     queryIdCol: String, queryTextCol: String,
                     k1: Double = 1.2, b: Double = 0.75,
                     maxDf: Option[Long] = None,
                     broadcastMaxQueries: Long = 100000L,
                     knownQueryCount: Option[Long] = None)
      : DataFrame = {
    maxDf.foreach(c => require(c >= 1,
      s"bm25: maxDf must be >= 1, got $c"))
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25: k1 must be > 0 and b in [0, 1], got k1=$k1 b=$b")
    require(broadcastMaxQueries >= 0,
      s"bm25: broadcastMaxQueries must be >= 0")
    val spark = corpus.sparkSession
    val qTerms = queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(tokenize(col(queryTextCol))))
          .as("term"))
      .filter(col("term") =!= "")
    val termSet = qTerms.select(col("term")).distinct()
    // query-batch regime gate (the Similarity broadcastMaxQueries
    // discipline, same contract incl. knownQueryCount to skip the
    // plan-time count): the broadcast spelling ships every
    // (query, term) pair — and the term-keyed stat tables it bounds
    // — through the driver, right for the eval-suite shape but not
    // for a decontamination-scale query table; above the bound every
    // query-side join falls back to a shuffle join on `term` (the
    // per-term stat sides stay one-row-per-key, so no row blowup)
    // and nothing query-batch-sized sits on the driver. Output
    // identical in both regimes. The decision reads ONE
    // column-pruned count of the query ids (no tokenize/explode)
    // PER CALL, deliberately unmemoized: the same plan re-read
    // after the underlying table grows would replay a stale "small"
    // verdict and broadcast an oversized query side — a job-failure
    // mode, unlike the count's bounded cost. Repeated callers over
    // a frame they know pass |Q| via knownQueryCount and skip it.
    val smallQ = knownQueryCount.getOrElse(
      queries.select(col(queryIdCol)).count()) <= broadcastMaxQueries
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (smallQ) broadcast(df) else df
    // corpus-wide stats: one tiny agg (N, Σdl)
    val stats = corpus.agg(count(lit(1)).as("__n"),
      sum(size(tokenize(col(textCol)))).as("__sumdl")).head()
    val n = stats.getLong(0)
    require(n > 0, "bm25: empty corpus")
    val avgdl = stats.getLong(1).toDouble / n
    // (doc, dl, term, tf) over query terms only — the corpus
    // explodes once, the term set broadcasts
    val docTerms = graft.Graft.spread(corpus)
      .select(col(idCol).as("__doc"),
        size(tokenize(col(textCol))).as("__dl"),
        explode(tokenize(col(textCol))).as("term"))
      .join(maybeBroadcast(termSet), Seq("term"))
      .groupBy(col("__doc"), col("__dl"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    // df per term: one row per (doc, term) above, so a plain count;
    // the optional hot-term cap prunes here — term-table-side, so
    // capped terms' corpus rows are filtered map-side by the
    // broadcast join below and never reach the fold's exchange
    val dfsAll = docTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val dfs = maxDf.fold(dfsAll)(c =>
      dfsAll.filter(col("__df") <= lit(c)))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("__df") + lit(0.5)) /
        (col("__df") + lit(0.5)))
    val contrib = idf *
      (col("__tf").cast("double") * lit(k1 + 1.0)) /
      (col("__tf").cast("double") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("__dl").cast("double") / lit(avgdl)))
    val scoredTerms = docTerms
      .join(maybeBroadcast(dfs), Seq("term"))
      .join(maybeBroadcast(qTerms), Seq("term"))
      .select(col("query_id"), col("__doc"), col("term"),
        contrib.as("__c"))
    // deterministic fold: contributions sum in ascending term order
    scoredTerms.groupBy(col("query_id"), col("__doc"))
      .agg(count(lit(1)).as("n_matched"),
        array_sort(collect_list(struct(col("term"), col("__c"))))
          .as("__cs"))
      .select(col("query_id"), col("__doc").as(idCol),
        col("n_matched"),
        round(aggregate(col("__cs"), lit(0.0),
          (acc, x) => acc + x.getField("__c")), 6).as("score"))
  }

  /** Top-`k` BM25 hits per query over a query table — the two-level
    * per-query rank ([[graft.operators.Similarity]]'s discipline: a
    * plain per-query window would sort one query's whole hit list in
    * one task; level 1 ranks within (query, doc-hash-bucket), level
    * 2 over the bounded survivors).
    */
  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, queryIdCol: String,
               queryTextCol: String, k: Int, k1: Double = 1.2,
               b: Double = 0.75,
               maxDf: Option[Long] = None,
               broadcastMaxQueries: Long = 100000L,
               knownQueryCount: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = bm25ScoresMany(corpus, idCol, textCol, queries,
      queryIdCol, queryTextCol, k1, b, maxDf,
      broadcastMaxQueries, knownQueryCount)
    val nBuckets = corpus.sparkSession.sessionState.conf
      .numShufflePartitions
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"),
        pmod(xxhash64(col(idCol)), lit(nBuckets)))
      .orderBy(col("score").desc, col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("__br", row_number().over(bucketW))
      .filter(col("__br") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        col("n_matched"), col("score"))
  }

  /** BM25 relevance of every document against a literal term query
    * (Robertson & Zaragoza 2009, with the Lucene-default smooth idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)) — never negative for
    * ubiquitous terms): score(D, Q) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)). The retrieval primitive of a
    * curation pipeline — "which documents look like this eval
    * prompt / policy example", catching lexical matches the exact
    * n-gram detectors miss once word order shifts.
    *
    * Scale: the query terms are LITERALS, so corpus-side statistics
    * need no term shuffle at all — one aggregation pass computes N,
    * Σdl and every per-term df as map-side-combined conditional
    * counts, then one scoring projection (per-term tf via
    * array-filter over the row's own tokens) with all statistics
    * riding as literals. Two scans total, zero joins, zero
    * exchanges beyond the stats agg. Emits only matching docs
    * (n_matched ≥ 1): (id, dl, n_matched, score). Tokenization is
    * [[tokenize]] — the same word boundaries as the LM scorers.
    *
    * The score sums term contributions in the CALLER's term order
    * (floating-point addition is order-sensitive; a fixed order
    * keeps results reproducible and cross-engine replayable).
    */
  def bm25Scores(corpus: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    require(queryTerms.distinct.size == queryTerms.size,
      s"bm25: duplicate query terms in $queryTerms")
    require(queryTerms.forall(_.nonEmpty), "bm25: empty term")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25: k1 must be > 0 and b in [0, 1], got k1=$k1 b=$b")
    val toks = tokenize(col(textCol))
    val dfAggs = queryTerms.zipWithIndex.map { case (t, i) =>
      count(when(array_contains(toks, t), 1)).as(s"__df$i") }
    val statAggs = Seq(count(lit(1)).as("__n"),
      sum(size(toks)).as("__sumdl")) ++ dfAggs
    val stats = corpus.agg(statAggs.head, statAggs.drop(1): _*).head()
    val n = stats.getLong(0)
    require(n > 0, "bm25: empty corpus")
    val avgdl = stats.getLong(1).toDouble / n
    val idfs = queryTerms.indices.map { i =>
      val dfT = stats.getLong(2 + i)
      math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
    }
    val dl = size(toks).cast("double")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl))
    val tfs = queryTerms.map(t =>
      size(filter(toks, x => x === lit(t))).cast("double"))
    val contribs = tfs.zip(idfs).map { case (tf, idf) =>
      lit(idf) * (tf * lit(k1 + 1.0)) / (tf + norm) }
    val matched = tfs.map(tf => when(tf > 0, 1).otherwise(0))
      .reduce(_ + _)
    corpus.select(col(idCol),
        dl.cast("long").as("dl"),
        matched.as("n_matched"),
        round(contribs.reduce(_ + _), 6).as("score"))
      .filter(col("n_matched") >= 1)
  }
}
