package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines
 * (SURVEY.md §2.12): token counting, quality scoring, language ID, document
 * fingerprinting. Everything is built from codegen'd `functions._` /
 * higher-order array functions — no UDFs — so the whole pipeline stays
 * inside whole-stage codegen and scales linearly with no shuffle at all
 * (pure per-row map; the parquet scan is the only I/O).
 */
object TextAnalysis {

  /** Unicode-script codepoint ranges for [[scriptProfile]], ALPHABETICAL by
    * name (the dominant-script tiebreak order). Each class is a regex
    * character class whose endpoints are LITERAL characters (compile-time
    * `\uXXXX`), so the identical string parses the same under Java regex
    * (Spark) and RE2 (DuckDB) — no engine-specific `\p{script=}` /
    * `\x{...}` syntax enters the comparison. Coarse BMP blocks by design:
    * this is a composition screen, not a full Unicode property database. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "arabic" -> "[؀-ۿ]",
    "cjk" -> "[一-鿿]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "hangul" -> "[가-힯]",
    "kana" -> "[぀-ヿ]",
    "latin" -> "[A-Za-z]")

  /**
   * Per-document Unicode-script composition — the mixed-script screen every
   * multilingual crawl pipeline runs before language ID can be trusted:
   * script-confusable spam ("pаypаl" with a Cyrillic а), template pages
   * that glue CJK boilerplate onto Latin bodies, and encoding damage all
   * show up as letters from MORE THAN ONE script in one document, which
   * n-gram language ID happily misclassifies instead of flagging.
   *
   * Per doc: the character count of each [[ScriptRanges]] class plus
   * `digit`, the residue `other` (punctuation/whitespace/everything else),
   * `n_scripts` (how many letter scripts appear at all), the dominant
   * script (most letters; alphabetical tiebreak; NULL when no letters),
   * and `script_purity` = dominant letters / all letters (NULL when no
   * letters) — filter `script_purity < τ` or `n_scripts > 1` to quarantine.
   *
   * Each class count is `length(text) − length(regexp_replace(text, class,
   * ''))` — a pure codegen'd per-row projection (the [[normalize]] family's
   * shape): no shuffle, no UDF, linear at any corpus size, and the exact
   * expression the oracle mirrors. NULL text rows are excluded (no
   * characters to profile).
   */
  def scriptProfile(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val classes = ScriptRanges :+ ("digit" -> "[0-9]")
    val counted = docs.filter(t.isNotNull).select(
      col(idCol) +: length(t).as("n_chars") +:
        classes.map { case (n, cls) =>
          (length(t) - length(regexp_replace(t, lit(cls), lit("")))).as(n)
        }: _*)
    val letters = ScriptRanges.map(_._1)
    val sumLetters = letters.map(col).reduce(_ + _)
    val maxC = greatest(letters.map(col): _*)
    // coalesce of otherwise-less whens = first alphabetical class at the max
    val dominant = coalesce(
      letters.map(n => when(col(n) === maxC && maxC > 0, lit(n))): _*)
    val nScripts = letters.map(n => when(col(n) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    counted.select(
      (col(idCol) +: col("n_chars") +: classes.map(c => col(c._1))) :+
        (col("n_chars") - sumLetters - col("digit")).as("other") :+
        nScripts.as("n_scripts") :+
        dominant.as("dominant_script") :+
        when(sumLetters > 0,
          round(maxC.cast("double") / sumLetters.cast("double"), 6))
          .as("script_purity"): _*)
  }

  /** Whitespace tokenizer shared by all ops (and mirrored by the DuckDB
    * oracles as `regexp_split_to_array(text, '\s+')`). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish sub-word tokenizer: word runs OR single non-word-non-space
    * characters — the usual pre-tokenization regex shape of BPE vocabularies
    * (punctuation splits off as its own token). */
  val BpeIshPattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"

  /** Token statistics per document: whitespace count, distinct count, and
    * the BPE-ish regex token count. */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpeIshPattern), lit(0))).as("n_tokens_bpe"))
  }

  /** Stopword set for quality scoring — a small fixed English function-word
    * list (public-domain common words). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  /**
   * Quality scores per document. All ratios are exact integer-over-integer
   * double divisions, so Spark and the DuckDB oracle produce bit-identical
   * results (no rounding fudge needed):
   *  - `n_tokens`, `n_chars_obs` (observed length),
   *  - `avg_token_len` = sum(len(token))/n_tokens,
   *  - `stopword_ratio` = stopword tokens / tokens,
   *  - `short_doc` = fewer than `minTokens` tokens (quality flag).
   */
  def quality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minTokens: Int = 30): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t).cast("double")
    val sw = typedLit(Stopwords)
    docs.select(
      col(idCol),
      size(t).as("n_tokens"),
      length(col(textCol)).as("n_chars_obs"),
      (aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x).cast("double") / nTok)
        .as("avg_token_len"),
      (size(filter(t, x => array_contains(sw, x))).cast("double") / nTok).as("stopword_ratio"),
      (size(t) < minTokens).as("short_doc"))
  }

  /**
   * Lexicon screen: per-document blocked-token accounting against a
   * configurable wordlist — the UT1/"bad words" filter stage every public
   * crawl pipeline runs between language ID and dedup (Dolma's and
   * RefinedWeb's toxicity wordlists, C4's Sec. 2.2 blocklist). Matching is
   * exact-token on the lowercased whitespace tokenization ([[tokens]], the
   * oracle-mirrored tokenizer); the lexicon arrives as a DATAFRAME column,
   * not a literal array, so a multi-100k-entry production list broadcasts
   * once (~MBs) instead of being inlined into the plan text — the same
   * config-not-code posture as [[Urls.filterBlockedDomains]]. Entries are
   * lowercased and de-duplicated before the join (a doubled lexicon entry
   * must not double-count a hit).
   *
   * Returns one row per document: `(id, n_tokens, n_blocked,
   * blocked_ratio, keep)` with `keep = blocked_ratio <= maxRatio` — the
   * report form rather than the filtered corpus, so callers can audit the
   * boundary before dropping (filter on `keep` to materialize the clean
   * corpus). The ratio is an exact small-integer division: bit-identical
   * across engines, no rounding needed for the decision column.
   *
   * Plan: ONE pass — explode the lowercased tokens, LEFT broadcast-join
   * the lexicon, one grouped count per doc (`n_tokens = count(*)`,
   * `n_blocked = count(matched)`, both map-side combined). The only
   * shuffle moves two longs per document. The empty-string token quirk of
   * `split` (an empty text yields one "" token) matches the oracle's
   * `regexp_split_to_array` exactly, as everywhere else in this module.
   */
  def lexiconScreen(docs: DataFrame, lexicon: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      wordCol: String = "word", maxRatio: Double = 0.05): DataFrame = {
    require(maxRatio >= 0.0, s"maxRatio must be non-negative: $maxRatio")
    val lex = lexicon.select(lower(col(wordCol)).as("__lw"))
      .filter(col("__lw").isNotNull && col("__lw") =!= "").distinct()
    docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .join(broadcast(lex), col("__w") === col("__lw"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), count(col("__lw")).as("n_blocked"))
      .select(col(idCol), col("n_tokens"), col("n_blocked"),
        (col("n_blocked").cast("double") / col("n_tokens")).as("blocked_ratio"),
        (col("n_blocked").cast("double") / col("n_tokens") <= lit(maxRatio))
          .as("keep"))
  }

  /**
   * Mojibake signatures: the character sequences UTF-8 bytes turn into when
   * a document was decoded as Latin-1/cp1252 somewhere upstream and
   * re-encoded (the damage ftfy exists to undo — `é` becomes `Ã©`, a right
   * single quote becomes `â€™`). A fixed, documented marker set, the
   * [[LangMarkers]] posture: common Latin-1 accented letters double-encoded
   * (`Ã` + continuation) plus the cp1252 punctuation triples (`â€` + mark)
   * and `Â` + printable-punctuation pairs. No signature is a substring of
   * another (asserted at use), so per-signature occurrence counts add up
   * without double-counting; none contains a C0/C1 control character, so
   * the mojibake and control counts never overlap either.
   */
  val MojibakeSignatures: Seq[String] = Seq(
    "Ã©", "Ã¨", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã§", "Ã³", "Ã¡", "Ã­", "Ãº", "Ã¯",
    "â€™", "â€œ", "â€“", "â€”", "â€¦", "Â·", "Â°", "Â«", "Â»")
  // checked ONCE at object init (the set is a constant): overlap would
  // double-count and break the additive per-signature arithmetic
  require(MojibakeSignatures.combinations(2).forall {
    case Seq(a, b) => !a.contains(b) && !b.contains(a)
  }, "MojibakeSignatures must be substring-free to count without overlap")

  /** C0/C1 control characters except whitespace (`\t`, `\n`, `\r`): raw
    * control bytes in decoded text mean encoding damage or binary junk.
    * `\x` hex escapes denote code points identically in Java regex and
    * RE2/DuckDB, so the SAME pattern string serves both engines. */
  val ControlCharClass: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"

  /**
   * Encoding-damage screen: per-document detection of text that arrived
   * through a broken decode — the cleaning stage between WET parse and
   * quality filtering that every public crawl pipeline runs (CCNet drops
   * non-UTF-8 pages; ftfy repairs double-encoded ones; C4 inherits both).
   * Three independent, exactly-countable signals:
   *  - `n_replacement` — U+FFFD replacement characters, the decoder's own
   *    "this byte sequence was invalid" marker;
   *  - `n_control` — C0/C1 control characters excluding `\t`/`\n`/`\r`
   *    ([[ControlCharClass]]); prose never contains them, binary junk and
   *    Latin-1-decoded UTF-8 continuation bytes (U+0080–U+009F) do;
   *  - `n_mojibake` — occurrences of the [[MojibakeSignatures]] double-
   *    encoding markers.
   *
   * Returns the REPORT `(id, n_chars, n_replacement, n_control,
   * n_mojibake, keep)` with `keep = (n_replacement + n_control +
   * n_mojibake) <= maxSignals` — an exact integer comparison, bit-identical
   * cross-engine (the [[lexiconScreen]] audit-before-drop posture). NULL
   * text yields NULL metrics and a NULL verdict (three-valued logic, the
   * [[gopherQuality]] convention).
   *
   * Plan: ONE codegen'd projection, zero shuffles, zero UDFs. Counts are
   * length deltas — `length(t) - length(replace(t, sig))` divided by the
   * signature's length, and one `regexp_replace` strip for the control
   * class — so no explode and no per-char work leaves the row.
   */
  def encodingScreen(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxSignals: Int = 0): DataFrame = {
    require(maxSignals >= 0, s"maxSignals must be non-negative: $maxSignals")
    val t = col(textCol)
    def sigCount(sig: String): Column =
      ((length(t) - length(replace(t, lit(sig), lit("")))) / lit(sig.length))
        .cast("long")
    val nRepl = (length(t) - length(replace(t, lit("\uFFFD"), lit(""))))
      .cast("long")
    val nCtl = (length(t) - length(regexp_replace(t, ControlCharClass, "")))
      .cast("long")
    val nMoji = MojibakeSignatures.map(sigCount).reduce(_ + _)
    docs.select(col(idCol), length(t).as("n_chars"),
      nRepl.as("n_replacement"), nCtl.as("n_control"),
      nMoji.as("n_mojibake"),
      ((nRepl + nCtl + nMoji) <= lit(maxSignals.toLong)).as("keep"))
  }

  /**
   * Phrase screen: per-document counting of MULTI-WORD blocklist phrases —
   * the third member of the blocklist family ([[Urls.filterBlockedDomains]]
   * for hosts, [[lexiconScreen]] for single tokens, this for phrases): C4's
   * §2.2 policy list and the Dolma/RefinedWeb boilerplate phrase lists
   * ("click here to subscribe"-class) are multi-word, and
   * [[c4Clean]]'s inline `dropDocSubstrings` stops scaling once the list is
   * config-sized. Phrases arrive as a DATAFRAME column (config-not-code; a
   * multi-100k-entry list broadcasts once), are lowercased, trimmed,
   * tokenized on the shared [[tokens]] tokenizer, and de-duplicated on the
   * TOKEN SEQUENCE (two spellings of the same sequence count once).
   *
   * Matching is contiguous-token-run equality on the lowercased document
   * tokens — sliding, so overlapping occurrences each count ("a a" occurs
   * twice in "a a a"), and two distinct phrases matching at one position
   * both count. Returns the audit REPORT `(id, n_tokens, n_phrase_hits,
   * keep)` with `keep = n_phrase_hits <= maxHits` (exact integers); NULL
   * text yields NULL metrics and a NULL verdict.
   *
   * Plan (the scale story): ONE posexplode of the doc tokens anchor-joined
   * against the BROADCAST first-token column prunes the search to
   * anchor-matching positions — only those candidates shuffle; the verify
   * step joins candidates back to the doc-keyed token arrays (each array
   * travels once per doc, not once per candidate) and compares one
   * `slice` per candidate. No doc×phrase product ever forms.
   */
  def phraseScreen(docs: DataFrame, phrases: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      phraseCol: String = "phrase", maxHits: Int = 0): DataFrame = {
    require(maxHits >= 0, s"maxHits must be non-negative: $maxHits")
    val ph = phrases
      .filter(col(phraseCol).isNotNull && length(trim(col(phraseCol))) > 0)
      .select(tokens(trim(lower(col(phraseCol)))).as("__ptoks")).distinct()
      .select(col("__ptoks"), element_at(col("__ptoks"), 1).as("__anchor"),
        size(col("__ptoks")).as("__plen"))
    // the token-array frame is consumed three times (candidate explode,
    // verify join, output spine) — cache it once (released by
    // [[Dedup.unpersistAll]]) instead of re-tokenizing the corpus per use
    val toks = Caches.track(
      docs.select(col(idCol), tokens(lower(col(textCol))).as("__toks")))
    val cand = toks
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__pos", "__tk")))
      .join(broadcast(ph), col("__tk") === col("__anchor"))
      .select(col(idCol), col("__pos"), col("__ptoks"), col("__plen"))
    val hits = cand.join(toks, Seq(idCol))
      .filter(slice(col("__toks"), col("__pos") + lit(1), col("__plen")) === col("__ptoks"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__nh"))
    toks.join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), size(col("__toks")).as("n_tokens"),
        when(col("__toks").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("__nh"), lit(0L))).as("n_phrase_hits"))
      .withColumn("keep", col("n_phrase_hits") <= lit(maxHits.toLong))
  }

  /** Marker words for the n-gram/stopword language-ID heuristic. Scores are
    * marker-token counts; prediction is the argmax with a fixed tie-break
    * order (en, de, fr, es, zh). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "is", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Language identification: count marker-word hits per language, predict
    * the argmax (ties resolved in [[LangMarkers]] order). One projection —
    * no shuffle, no UDF. Argmax is `array_position(scores, array_max)` —
    * LINEAR expression tree; the previous when-chain fold referenced the
    * accumulator in BOTH branches, doubling the tree per language (2^n
    * nodes — the same pitfall that hung the IVF assignment at nlist=16).
    * `array_position` returns the FIRST index of the max, which is exactly
    * the fixed tie-break order the oracle's CASE cascade encodes. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val scoreArr = array(LangMarkers.map { case (_, words) =>
      size(filter(t, x => array_contains(typedLit(words), x)))
    }: _*)
    val langArr = typedLit(LangMarkers.map(_._1))
    docs.select(col(idCol), scoreArr.as("__scores"))
      .select(
        col(idCol),
        element_at(langArr,
          array_position(col("__scores"), array_max(col("__scores"))).cast("int")).as("pred_lang"),
        array_max(col("__scores")).as("marker_hits"))
  }

  /** Corpus-level term statistics — the vocabulary-building pass of a
    * training-data pipeline: document frequency (docs containing the token)
    * and collection frequency (total occurrences) per token, top-`k` by
    * document frequency with token-ascending tie-break (a total order, so
    * the cut is deterministic in any engine). ONE shuffle on token — the
    * natural vocabulary layout — then a TakeOrdered; no driver-side state,
    * so the same plan holds for a 10^9-document corpus. */
  def termStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 100): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(countDistinct(col(idCol)).as("doc_freq"), count(lit(1)).as("term_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(k)

  /** Corpus-level TF-IDF term weights: per token, document frequency,
    * collection frequency, and `tfidf = term_freq · ln(N / doc_freq)` —
    * the weighting pass behind keyword extraction / rare-term surfacing in
    * a training-data pipeline. Top-`k` by `(round(tfidf, 4) desc, token)` —
    * rounding BEFORE ordering makes the cut deterministic across engines
    * (sub-ulp `ln` differences cannot reorder the ranking). One shuffle on
    * token plus a broadcast of the 1-row corpus count; no driver state. */
  def tfidf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 100): DataFrame = {
    // countDistinct, not count(*): doc_freq counts DISTINCT docs, so N must be
    // on the same basis — duplicate doc_ids would otherwise inflate N and a
    // token present in every distinct doc would no longer get tfidf 0
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(countDistinct(col(idCol)).as("doc_freq"), count(lit(1)).as("term_freq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("term_freq").cast("double") *
          log(col("n_docs").cast("double") / col("doc_freq").cast("double")), 4))
      .select(col("token"), col("doc_freq"), col("term_freq"), col("tfidf"))
      .orderBy(col("tfidf").desc, col("token"))
      .limit(k)
  }

  /**
   * Per-document keyword extraction: the top-`k` TF-IDF terms of EACH
   * document (`tf · ln(N / df)` — [[tfidf]]'s corpus-level weighting turned
   * per-doc), the standard tagging/routing/summarization signal a corpus
   * pipeline attaches to every document. Ranking is by
   * `(round(tfidf, 6) desc, token asc)` per doc — rounding BEFORE ranking
   * makes the cut deterministic across engines (the [[tfidf]] contract).
   *
   * Scale shape: one `(doc, token)` groupBy (map-side combined), the
   * token-keyed join against the vocabulary-sized df frame, the 1-row `N`
   * broadcast, then ONE window partitioned by doc — per-task state is one
   * document's distinct terms. No driver state, no corpus-sized single
   * partition anywhere.
   */
  def keywordsPerDoc(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val nDocs = docs.agg(countDistinct(col(idCol)).as("__n"))
    val dt = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df = dt.groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
    val scored = dt.join(graft.ops.Ops.hintIfSmall(df), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log(col("__n").cast("double") / col("doc_freq").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"),
        col("doc_freq"), col("tfidf"))
  }

  /**
   * BM25 document ranking for one query (Robertson & Zaragoza 2009; the
   * Lucene `+1` idf variant, which keeps every term's idf positive where
   * classic BM25 goes negative past df > N/2) — the lexical side of
   * retrieval: the standard counterpart to [[Similarity]]'s embedding
   * search, and the usual first-stage candidate generator for lexical
   * hard-negative mining (BM25 negatives are the DPR paper's own choice).
   *
   *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *   idf(t)   = ln( (N − df + 0.5) / (df + 0.5) + 1 )
   *
   * with `dl` the document's token count, `avgdl` its mean over documents
   * WITH text, and `N` the corpus document count (NULL-text documents
   * count toward `N` — they are real, merely empty — but not toward
   * `avgdl`, and can never match). Query terms
   * are deduplicated: BM25 term saturation models repeated DOCUMENT
   * occurrences; a repeated QUERY word is conventionally one term.
   *
   * Returns the `topK` `(idCol, score)` rows by `round(score, 6)`
   * descending, id ascending — ROUNDED ranking, because raw double scores
   * differ across engines in ulps (ln/avg/sum order), and a tie at the
   * cutoff would otherwise make the selected SET engine-dependent, not
   * just the order.
   *
   * Scale shape: the corpus explodes its tokens ONCE and the
   * `isin(query terms)` filter applies BEFORE the `(doc, term)` shuffle,
   * so only matching postings move; `df` aggregates from the same
   * filtered stream; `N` and `avgdl` are a one-row broadcast; the final
   * top-k is Spark's TakeOrdered (per-partition heaps, no global sort).
   */
  def bm25(docs: DataFrame, query: String, idCol: String = "doc_id",
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val qTerms = queryTerms(query, k1, b, topK, "bm25 query")
    val postings = bm25Postings(docs, idCol, textCol, Some(qTerms))
    val df = postings.groupBy("token").agg(count(lit(1)).as("__df"))
    val scored = postings.join(graft.ops.Ops.hintIfSmall(df), Seq("token"))
      .crossJoin(broadcast(bm25Stats(docs, size(tokens(col(textCol))))))
    bm25Top(scored, col("__n"), col("__avgdl"), k1, b, topK)
      .select(col("doc_id").as(idCol), col("score"))
  }

  /** BM25's query-term parse and parameter checks: the query's distinct
    * whitespace-separated terms. */
  private def queryTerms(query: String, k1: Double, b: Double, topK: Int,
      who: String): Seq[String] = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"bm25 parameters out of range: k1=$k1 b=$b")
    require(topK > 0, s"topK must be positive: $topK")
    val qTerms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, s"$who has no terms")
    qTerms
  }

  /** BM25's corpus normalizers over one row per document with length `dl`:
    * `(__n, __avgdl)`, avgdl as ONE double division over exact integer
    * sum/count — an incremental double `avg` would differ across engines in
    * ulps, and avgdl multiplies into every score. */
  private def bm25Stats(perDoc: DataFrame, dl: Column): DataFrame =
    perDoc.agg(count(lit(1)).as("__n"), (sum(dl).cast("double") / count(dl)).as("__avgdl"))

  /** BM25 postings `(token, doc_id, tf, dl)`, restricted to `terms` when
    * given (the filter sits BEFORE the `(token, doc)` shuffle, so only
    * matching postings move). Tokenizes ONCE per input row, in its own
    * twice-referenced projection: size(tokens) inline next to
    * explode(tokens) lands ABOVE the Generate and re-splits the text per
    * exploded OUTPUT row — O(tokens^2) per doc (measured 2.5 s vs 0.35 s on
    * the sf0.1 corpus, r20 probe); the two-step shape computes dl below the
    * Generate, once per document. */
  private def bm25Postings(docs: DataFrame, idCol: String, textCol: String,
      terms: Option[Seq[String]]): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), size(col("__tk")).as("dl"), explode(col("__tk")).as("token"))
    terms.fold(exploded)(ts => exploded.filter(col("token").isin(ts: _*)))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"), min("dl").as("dl"))
  }

  /** The one BM25 score tree (Lucene `+1` idf) and rounded-score cutoff over
    * `(doc_id, tf, dl, __df)` postings rows, `n`/`avgdl` the corpus
    * normalizers: the `topK` `(doc_id, score)` rows by `round(score, 6)`
    * DESC, doc_id ASC. */
  private def bm25Top(postings: DataFrame, n: Column, avgdl: Column, k1: Double,
      b: Double, topK: Int): DataFrame =
    postings
      .select(col("doc_id"),
        (log((n - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)).cast("double") /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
          .as("__s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(topK)

  /** Handle for a persisted inverted index: the table-name prefix plus the
    * FROZEN corpus statistics (`n_docs`, `avgdl`) captured at build time —
    * the BM25 analog of the IVF index's frozen quantizer. */
  final case class TextIndex(table: String, nDocs: Long, avgdl: Double)

  /**
   * Build and persist a BM25 inverted index — the lexical member of the
   * persisted-index family ([[Similarity.buildIndex]] for vectors,
   * [[Dedup.buildLshIndex]] for shingles): at 100 TB you search POSTINGS,
   * not the corpus, and the postings are written once and probed per
   * query batch.
   *
   * Layout (three store tables):
   *  - `{table}_postings` `(token, doc_id, tf, dl)` — TOKEN-CLUSTERED
   *    ([[graft.store.TableStore.atomicOverwriteClustered]]), so the
   *    store's manifest min/max stats on `token` let a query's `IN`
   *    filter skip whole files, and parquet row-group stats prune inside
   *    the rest — the text analog of the IVF probe-list scan;
   *  - `{table}_df` `(token, df)` — the vocab-sized idf side, ADDITIVE
   *    (appends write deltas; readers sum per token);
   *  - `{table}_stats` one row `(n_docs, avgdl)` — the frozen normalizers.
   *
   * [[searchTextIndex]] over this index reproduces [[bm25]]'s ranking
   * EXACTLY (same Lucene +1 idf tree, same one-division avgdl, same
   * rounded-score cutoff) — pinned by the `text_bm25_index_search` gate
   * against the in-memory operator's own DuckDB oracle.
   */
  def buildTextIndex(store: graft.store.TableStore, table: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      numFiles: Int = 32): TextIndex = {
    // bm25's determinism contract, frozen into the stats table
    val st = bm25Stats(docs, size(tokens(col(textCol)))).head()
    val postings = Caches.track(bm25Postings(docs, idCol, textCol, None))
    store.atomicOverwriteClustered(s"${table}_postings", postings, Seq("token"), numFiles)
    store.atomicOverwrite(s"${table}_df",
      postings.groupBy("token").agg(count(lit(1)).as("df")))
    writeTextStats(store, table, st, docs.sparkSession)
  }

  /** Persist `(n_docs, avgdl)` — the `(__n, __avgdl)` row of [[bm25Stats]]
    * — as the index's one-row `_stats` table. */
  private def writeTextStats(store: graft.store.TableStore, table: String,
      st: org.apache.spark.sql.Row, spark: org.apache.spark.sql.SparkSession): TextIndex = {
    val (n, avgdl) = (st.getLong(0), st.getDouble(1))
    import spark.implicits._
    store.atomicOverwrite(s"${table}_stats", Seq((n, avgdl)).toDF("n_docs", "avgdl"))
    TextIndex(table, n, avgdl)
  }

  /**
   * Grow a persisted text index with new documents — postings and df
   * DELTAS append as their own O(1)-committed generations; the existing
   * index is never read or rewritten. The build-time `n_docs`/`avgdl`
   * stay FROZEN (the IVF frozen-quantizer trade, and Lucene's own
   * per-segment practice): idf and length normalization drift with the
   * appended mass until a [[buildTextIndex]] rebuild, while matching is
   * exact — appended documents are immediately searchable with their true
   * tf/dl. Appended files sit outside the token-clustered layout, so
   * file skipping loosens until the store's next compaction
   * (`maybeAutoCompactClustered` restores it under the auto-compact knob).
   */
  def appendToTextIndex(store: graft.store.TableStore, index: TextIndex,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      numFiles: Int = 32): Unit = {
    val postings = Caches.track(bm25Postings(batch, idCol, textCol, None))
    store.append(s"${index.table}_postings", postings)
    store.append(s"${index.table}_df",
      postings.groupBy("token").agg(count(lit(1)).as("df")))
    store.maybeAutoCompactClustered(s"${index.table}_postings", Seq("token"), numFiles)
  }

  /** Reload a persisted text index's frozen stats from storage. */
  def loadTextIndex(store: graft.store.TableStore, table: String): TextIndex = {
    val r = store.read(s"${table}_stats").head()
    TextIndex(table, r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"))
  }

  /**
   * Refresh a persisted text index's stats WITHOUT touching the postings —
   * the missing lever between [[appendToTextIndex]]'s frozen-stats drift
   * and a full [[buildTextIndex]] rebuild (the r18 verdict's item 4): ONE
   * aggregation over the postings recomputes `n_docs` (distinct doc ids)
   * and `avgdl` (mean of the per-doc `dl`, as the build's one exact
   * integer-sum/count division) and atomically rewrites only the one-row
   * `_stats` table. The postings/df layout — the expensive, token-
   * clustered part — is never read beyond this narrow two-column
   * aggregation and never rewritten.
   *
   * Recency contract: after a refresh, scores over a grown index equal
   * the in-memory [[bm25]] over the full corpus as of refresh time — for
   * TOKEN-BEARING documents. A document with no tokens writes no postings
   * and is invisible here (it can never match a query either; it would
   * perturb only the normalizers — callers indexing corpora with empty
   * documents who want them counted should rebuild). The
   * `text_bm25_index_refresh` gate pins the equivalence against the
   * whole-corpus bm25 oracle.
   */
  def refreshTextIndexStats(store: graft.store.TableStore, table: String): TextIndex = {
    val perDoc = store.read(s"${table}_postings")
      .groupBy("doc_id").agg(min("dl").as("__dl"))
    val st = bm25Stats(perDoc, col("__dl")).head()
    // an index with zero postings has nothing to refresh FROM — the avgdl
    // aggregate is NULL there, and silently writing (0, 0) would divide
    // every later score by a zero normalizer; refuse loudly instead
    require(st.getLong(0) > 0 && !st.isNullAt(1),
      s"refreshTextIndexStats('$table'): the postings table has no " +
        "token-bearing documents — rebuild the index instead of refreshing")
    writeTextStats(store, table, st, perDoc.sparkSession)
  }

  /**
   * BM25 search over a persisted index: the query's deduplicated terms
   * push as an `IN` filter into BOTH store scans (token-clustered
   * postings: manifest file skipping + row-group pruning — only matching
   * postings are ever read), df sums the additive deltas per term, and
   * the identical [[bm25]] score tree ranks by `round(score, 6)` DESC,
   * id ASC. On a freshly-built index this is bit-identical to the
   * in-memory [[bm25]]; on a grown index the frozen-stats contract above
   * applies.
   */
  def searchTextIndex(store: graft.store.TableStore, index: TextIndex, query: String,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val qTerms = queryTerms(query, k1, b, topK, "searchTextIndex: query")
    val post = store.read(s"${index.table}_postings")
      .filter(col("token").isin(qTerms: _*))
    val dfT = store.read(s"${index.table}_df")
      .filter(col("token").isin(qTerms: _*))
      .groupBy("token").agg(sum("df").as("__df"))
    bm25Top(post.join(graft.ops.Ops.hintIfSmall(dfT), Seq("token")),
      lit(index.nDocs), lit(index.avgdl), k1, b, topK)
  }

  /**
   * Vocabulary divergence between two corpora: smoothed unigram KL both
   * ways plus Jensen–Shannon — the text-side drift monitor next to
   * [[Profiling]]'s numeric PSI (a new crawl snapshot whose JS against
   * the previous one jumps has changed register, language mix, or
   * boilerplate long before any downstream metric says so; Wenzek et al.
   * use exactly this distributional lens for corpus QA).
   *
   * Distributions are add-one smoothed over the UNION vocabulary:
   * `p(w) = (c_a(w)+1) / (N_a+V)` — both sides defined everywhere, so KL
   * is finite even for disjoint vocabularies. `JS = (KL(P‖M)+KL(Q‖M))/2`
   * with `M = (P+Q)/2`, bounded by ln 2, symmetric — the one to alert on.
   *
   * One row out `(kl_ab, kl_ba, js)`, rounded at 6 (Σ p·ln terms — sum
   * order and libm ulps differ across engines). Plan: two token-count
   * aggregations full-outer joined on the token (vocab-sized, not
   * corpus-sized), totals as one broadcast row, ONE final aggregation.
   */
  def vocabDivergence(a: DataFrame, b: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val joined = tokenCounts(a, textCol, "__ca")
      .join(tokenCounts(b, textCol, "__cb"), Seq("__w"), "full_outer")
      .select(coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val tot = joined.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"),
      count(lit(1)).as("__v"))
    val p = (col("__ca") + lit(1L)).cast("double") / (col("__na") + col("__v"))
    val q = (col("__cb") + lit(1L)).cast("double") / (col("__nb") + col("__v"))
    val m = (p + q) / lit(2.0)
    joined.crossJoin(broadcast(tot))
      .agg(round(sum(p * log(p / q)), 6).as("kl_ab"),
        round(sum(q * log(q / p)), 6).as("kl_ba"),
        round((sum(p * log(p / m)) + sum(q * log(q / m))) / lit(2.0), 6).as("js"))
  }

  /** The corpus token-count table `(__w, <countCol>)`: one row per distinct
    * whitespace token of `df`'s `textCol` with its occurrence count — one
    * explode and one token-keyed grouped count (vocab-sized output). */
  private[ext] def tokenCounts(df: DataFrame, textCol: String, countCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as(countCol))

  /**
   * Per-document Shannon character entropy — the cheap gibberish/binary
   * detector of crawl quality filtering: natural prose sits in a narrow
   * entropy band (~2–4.5 nats depending on script), base64/hex blobs and
   * compressed junk spike high, single-character spam collapses to ~0.
   * Computed as `H = ln(L) − (Σ c·ln c)/L` over exact integer character
   * counts — one division at the end, the [[unigramSurprisal]] arithmetic
   * discipline — rounded to 6 (Σ order and libm ulps differ across
   * engines). Empty and NULL texts are absent from the output. Both
   * engines split and count per CODE POINT — Java's empty-pattern split
   * has refused to cut surrogate pairs since JDK 8, and Spark's
   * `length()` counts code points like DuckDB's — so supplementary-plane
   * text (emoji) hashes identically across engines; the
   * `text_char_entropy` gate pins this with a planted emoji row rather
   * than narrating it.
   *
   * Scale shape: one explode + two partial-aggregating groupBys keyed on
   * the doc id — no window, no corpus-wide order.
   */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // two-step (the bm25-postings shape, r20): __len lands in the child
    // projection BELOW the Generate, once per document — inline next to
    // the explode it would re-scan the string per exploded CHAR row
    docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), length(col(textCol)).cast("long").as("__len"),
        split(col(textCol), "").as("__chs"))
      .select(col(idCol), col("__len"), explode(col("__chs")).as("__ch"))
      .groupBy(col(idCol), col("__len"), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("__len"))
      .agg(round(
        log(col("__len").cast("double")) -
          sum(col("__c").cast("double") * log(col("__c").cast("double"))) /
            col("__len").cast("double"), 6).as("entropy"))
      .select(col(idCol), col("entropy"))

  /**
   * Readability scores (Flesch reading ease + Flesch–Kincaid grade) — the
   * classic document-difficulty prior quality pipelines use as a feature
   * (alongside [[gopherQuality]]'s structural rules): educational-corpus
   * curation wants a grade-level signal, and the 1975 Flesch/Kincaid
   * formulas are the standard deterministic one. All three inputs are
   * exactly countable, so the gate is hash-exact at 6 decimals:
   *  - words = the shared whitespace tokenizer;
   *  - sentences = `[.!?]+` separator runs, floored at 1 (a fragment is
   *    one sentence, and the formulas divide by it);
   *  - syllables = per-word `[aeiouy]+` vowel-group count floored at 1
   *    (the standard heuristic: "rhythm" is one syllable, not zero) —
   *    a higher-order `transform` + `aggregate`, no explode, no shuffle.
   *
   * `ease = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`,
   * `grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`
   * (Kincaid et al. 1975). Two chained projections (the house two-step
   * at [[repetition]]/[[unigramSurprisal]]): the first materializes each
   * O(text) count ONCE, the second derives both formulas from the count
   * columns — inlining everything into one projection re-evaluated the
   * syllable aggregate 3× and the tokenization ~5× per row
   * (CollapseProject keeps multiply-referenced non-cheap HOFs apart, but
   * only if we split them ourselves). NULL text → NULLs.
   */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = tokens(lower(col(textCol)))
    // greatest() SKIPS nulls in both engines, so the sentence floor must
    // not resurrect NULL text — gate it explicitly (NULL in, NULL out)
    val nSentences = when(col(textCol).isNull, lit(null).cast("int"))
      .otherwise(greatest(lit(1), size(split(col(textCol), "[.!?]+")) - 1))
    val nSyllables = aggregate(
      transform(t, w => greatest(lit(1), size(split(w, "[aeiouy]+")) - 1)),
      lit(0), (acc, x) => acc + x)
    val words = col("n_words").cast("double")
    val sentences = col("n_sentences").cast("double")
    val syllables = col("n_syllables").cast("double")
    docs.select(col(idCol),
        size(t).as("n_words"),
        nSentences.as("n_sentences"),
        nSyllables.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835) - lit(1.015) * (words / sentences)
          - lit(84.6) * (syllables / words), 6).as("flesch_ease"),
        round(lit(0.39) * (words / sentences)
          + lit(11.8) * (syllables / words) - lit(15.59), 6).as("fk_grade"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — a
    * normalization-stable document signature (token order and duplication
    * insensitive). Useful as a cheap exact-dedup key at scale. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col(textCol)))))).as("fingerprint"))

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
   * SIGMOD — the MOSS algorithm): from each document's positional k-gram
   * hash sequence, keep the MINIMUM hash of every `window` consecutive
   * grams, rightmost position on ties ("robust winnowing"). The guarantee
   * the paper proves: any shared substring of at least `k + window − 1`
   * tokens is caught by at least one shared fingerprint, while only
   * ~`2/(window+1)` of grams are stored — the storage/recall dial between
   * full positional grams ([[Dedup.duplicateSpans]], every gram) and one
   * whole-doc signature ([[fingerprint]]).
   *
   * Portability contract: the gram hash is the 60-bit md5 form
   * ([[Sampling.idHash]] applied to the ``-joined gram string),
   * and tie-breaking rides a `(hash, −pos)` struct min — both
   * reproducible bit-identically in SQL, so the gate hashes the full
   * selection. Docs with fewer than `k` tokens (including NULL text)
   * yield no fingerprints; docs with fewer than `window` grams yield the
   * single all-gram minimum (the final partial window).
   *
   * Scale shape: gram hashing is one narrow codegen'd projection; the
   * sliding min is a per-document ordered window — per-task input is one
   * document's grams (KB-scale), the [[Dedup.duplicateSpans]] discipline,
   * never a corpus-wide order. Returns `(id, pos, gram_hash)` distinct.
   */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5, window: Int = 4): DataFrame = {
    require(k >= 1, s"gram size must be positive: $k")
    require(window >= 1, s"winnowing window must be positive: $window")
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col(textCol))
    val gram = (i: Column) => Sampling.idHash(concat_ws("\u0001",
      (0 until k).map(j => element_at(col("__tk"), i + lit(j + 1))): _*))
    // materialized BEFORE the explode: Generate re-evaluates its child per
    // emitted element, so an inline HOF-built array re-runs every gram's md5
    // per output row (the decontaminate/IVF deferred-eval trap)
    val gramArrays = Caches.track(docs
      .select(col(idCol), t.as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(col(idCol),
        transform(sequence(lit(0), size(col("__tk")) - k), gram).as("__gh")))
    // the per-doc gram count rides the array size — a second (unordered)
    // count window over the same partition would add its own sort/exchange
    val grams = gramArrays
      .select(col(idCol), size(col("__gh")).as("__m"),
        posexplode(col("__gh")).as(Seq("pos", "h")))
    val slide = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(window - 1), 0)
    grams
      .withColumn("__best", min(struct(col("h"), (-col("pos")).as("np"))).over(slide))
      .filter(col("pos") >= least(lit(window), col("__m")) - 1)
      .select(col(idCol), (-col("__best.np")).cast("long").as("pos"),
        col("__best.h").as("gram_hash"))
      .distinct()
  }

  /** Canonical text normalization for dedup/fingerprint pre-processing:
    * lowercase, non-alphanumerics to spaces, whitespace runs collapsed,
    * edges trimmed. Patterns are shared Java-regex/RE2 syntax so the DuckDB
    * oracle (`regexp_replace(..., 'g')`) computes the identical string.
    * Pure per-row codegen'd map — no shuffle, linear at any scale. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]+", " "), "\\s+", " "))

  /**
   * Unicode canonical normalization to NFC (or another form) — the repair
   * step between [[encodingScreen]] and [[fingerprint]]/dedup: precomposed
   * `é` (U+00E9) and decomposed `e` + U+0301 are the SAME text to a human
   * and to a tokenizer, but different bytes to every hash in the pipeline;
   * ftfy and the utf8proc-based crawl stacks normalize to NFC for exactly
   * this reason. Spark has no built-in; this is the codegen'd
   * [[org.apache.spark.sql.graftx.UnicodeNormalize]] expression (JDK
   * `java.text.Normalizer`; pure-ASCII rows — the corpus majority — take a
   * zero-decode fast path, already-normal non-ASCII a zero-copy
   * `isNormalized` one). Pure per-row map — no shuffle, linear
   * at any scale; the DuckDB oracle's `nfc_normalize` (utf8proc) computes
   * the identical string, so the rewrite is hash-gateable.
   */
  def nfcNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graftx.TextFunctions.unicode_normalize(text, form)

  /**
   * C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the rules
   * every public web-corpus pipeline applies between WET parse and
   * dedup; cf. `/root/reference` has no text stage, this is the
   * beyond-reference crawl surface):
   *
   * LINE rules (applied to `\n`-split, trimmed lines):
   *  - keep only lines ending in a terminal punctuation mark
   *    (`terminalPunct`, default `. ! ? "`);
   *  - keep only lines with at least `minWordsPerLine` whitespace words;
   *  - drop lines containing any `dropLineSubstrings` entry
   *    (case-insensitive; default the C4 "javascript" rule).
   * DOCUMENT rules:
   *  - drop documents whose lowercased FULL text contains any
   *    `dropDocSubstrings` entry (defaults: C4's "lorem ipsum"
   *    boilerplate marker and `{` code/js marker);
   *  - drop documents with fewer than `minLinesPerDoc` surviving lines
   *    (C4 uses a sentence count; the line form is the common variant).
   * NULL-text documents drop on both engines (every predicate is
   * three-valued NULL there).
   *
   * Output: `(id, clean_text, n_lines_kept)` — surviving lines rejoined
   * with `\n`. Entirely codegen'd split/filter/rejoin array functions
   * (the [[normalize]] shape): per-row map, no shuffle, linear at any
   * corpus size; every rule mirrors verbatim in the DuckDB oracle so the
   * whole filter is hash-gated.
   */
  /**
   * HTML → text extraction — the stage BEFORE everything else in a crawl
   * pipeline: raw WARC responses carry HTML, and every downstream screen
   * (C4 lines, Gopher rules, dedup, langid) expects extracted text (the
   * WET format [[graft.io.Warc]] ingests is exactly this step's output,
   * which Common Crawl happens to pre-compute). Deliberately a
   * DETERMINISTIC tag/entity pipeline, not a DOM parser: strip comments,
   * `<script>`/`<style>` blocks (non-greedy, case-insensitive, dotall);
   * convert BLOCK-LEVEL boundaries to `\n` (closing `</p> </div> </li>
   * </ul> </ol> </h1..6> </tr> </table> </title> </blockquote> </pre>
   * </section> </article> </header> </footer>` plus `<br>`/`<br/>` — real
   * WET extraction preserves block structure as newlines, and the very
   * next stage every crawl pipeline runs, [[c4Clean]], keeps/drops LINES
   * split on `\n`; a block tag carrying attributes falls through to the
   * generic space rule, the documented approximation); then every
   * remaining tag to a space; decode the six core entities (chained
   * literal replaces with `&amp;` LAST — the usual approximation of
   * single-pass decoding); collapse HORIZONTAL whitespace runs within
   * lines (space/tab/VT/FF/CR — never `\n`); trim spaces around each
   * newline, collapse newline runs to one, and trim the ends. Every
   * pattern is shared Java-regex/RE2 syntax (inline `(?is)` flags,
   * non-greedy `.*?`, no lookaround, no backrefs), so the identical chain
   * runs under DuckDB and the whole extraction hash-gates.
   *
   * Output: `(id, clean_text, n_lines, n_chars)`; NULL html stays NULL
   * through the chain on both engines. Pure codegen'd per-row map — no
   * shuffle, linear at any corpus size.
   */
  def htmlExtract(docs: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html"): DataFrame = {
    val noComment = regexp_replace(col(htmlCol), "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val blocks = regexp_replace(noStyle, HtmlBlockTagPattern, "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    val hColl = regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " ")
    val nTrim = regexp_replace(hColl, " *\n *", "\n")
    val clean = trim(regexp_replace(nTrim, "\n+", "\n"), " \n")
    docs.select(col(idCol), clean.as("clean_text"),
      when(clean.isNull, lit(null).cast("int"))
        .when(length(clean) === 0, lit(0))
        .otherwise(size(split(clean, "\n"))).as("n_lines"),
      length(clean).as("n_chars"))
  }

  /** The block-boundary tags [[htmlExtract]] converts to `\n` (closing
    * block tags, attribute-free, plus bare `<br>`/`<br/>`) — shared
    * Java-regex/RE2 syntax so the DuckDB oracle mirrors it verbatim. */
  val HtmlBlockTagPattern: String =
    "(?i)<(?:br\\s*/?|/(?:p|div|li|ul|ol|h[1-6]|tr|table|title|blockquote|pre|section|article|header|footer))>"

  /**
   * Outlink extraction — [[htmlExtract]]'s sibling and the source of the
   * crawl frontier and the web graph ([[Graphs.pageRank]] runs on exactly
   * this output at corpus scale): every `<a href="...">` / `<a href='...'>`
   * target, one `(id, pos, url)` row per link. `pos` is TRUE DOCUMENT
   * ORDER across both quote styles (0-based) — ONE combined alternation
   * captures the quoted token (`"…"` or `'…'`, quotes included) in shared
   * Java-regex/RE2 syntax, and the surrounding quotes are stripped with a
   * length-2 substring, so a frontier scheduler ranking on `pos` sees the
   * position a reader of the page would (the r18 two-group concat
   * numbered all double-quoted hrefs before any single-quoted one).
   * Empty hrefs are kept — dropping is the caller's policy, usually
   * [[graft.ext.Urls]] canonicalization + blocklists next.
   * Pure codegen per-row map + one posexplode; no shuffle.
   */
  def htmlLinks(docs: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html"): DataFrame = {
    val quoted = regexp_extract_all(col(htmlCol),
      lit("(?i)<a[^>]*href\\s*=\\s*(\"[^\"]*\"|'[^']*')"), lit(1))
    val urls = transform(quoted, u => u.substr(lit(2), length(u) - 2))
    docs.select(col(idCol), posexplode(urls).as(Seq("pos", "url")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("url"))
  }

  def c4Clean(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minWordsPerLine: Int = 3, minLinesPerDoc: Int = 5,
      terminalPunct: Seq[String] = Seq(".", "!", "?", "\""),
      dropLineSubstrings: Seq[String] = Seq("javascript"),
      dropDocSubstrings: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1: $minWordsPerLine")
    require(minLinesPerDoc >= 1, s"minLinesPerDoc must be >= 1: $minLinesPerDoc")
    require(terminalPunct.nonEmpty, "terminalPunct must list at least one mark")
    // the substring rules are case-INSENSITIVE: only the text side is
    // lowered in the expressions, so the entries must lower here or a
    // caller's "JavaScript" would silently never match
    val dropLine = dropLineSubstrings.map(_.toLowerCase)
    val dropDoc = dropDocSubstrings.map(_.toLowerCase)
    val kept = filter(transform(split(col(textCol), "\n"), l => trim(l)), l =>
      terminalPunct.map(p => l.endsWith(p)).reduce(_ || _) &&
        size(split(l, "\\s+")) >= minWordsPerLine &&
        dropLine.map(s => !lower(l).contains(s)).foldLeft(lit(true))(_ && _))
    docs.select(col(idCol), kept.as("__kept"), lower(col(textCol)).as("__lt"))
      .filter(size(col("__kept")) >= minLinesPerDoc &&
        dropDoc.map(s => !col("__lt").contains(s)).foldLeft(lit(true))(_ && _))
      .select(col(idCol), array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).as("n_lines_kept"))
  }

  /**
   * Gopher/MassiveText document-level quality rules (Rae et al. 2021,
   * Appendix A — the doc-level sibling of [[c4Clean]]'s line rules; the
   * other filter set every public web-corpus pipeline cites). Emits the
   * measured metrics plus a `keep` verdict so callers can filter, audit
   * thresholds, or re-score without re-reading text:
   *
   *  - `n_words` in `[minWords, maxWords]` (whitespace words, empties
   *    dropped — the split regex is shared with the oracles);
   *  - `mean_word_len` in `[minMeanWordLen, maxMeanWordLen]`;
   *  - `hash_word_ratio` / `ellipsis_word_ratio` ≤ `maxSymbolRatio`
   *    (`#` occurrences and literal `...` occurrences per word — the
   *    Gopher "symbol-to-word ratio" pair);
   *  - `bullet_line_frac` ≤ `maxBulletLineFrac` (trimmed non-empty lines
   *    starting with a `bulletMarkers` entry),
   *    `ellipsis_line_frac` ≤ `maxEllipsisLineFrac` (lines ending `...`
   *    or `…`);
   *  - `alpha_word_frac` ≥ `minAlphaWordFrac` (words containing at least
   *    one `[A-Za-z]` character);
   *  - `stop_hits` ≥ `minStopwordHits` (how many of the Gopher stopword
   *    list — the, be, to, of, and, that, have, with — appear as
   *    lowercased words);
   *  - `dup_line_frac` ≤ `maxDupLineFrac` (1 − distinct/total non-empty
   *    lines) and `dup_line_char_frac` ≤ `maxDupLineCharFrac` (fraction
   *    of line characters inside lines occurring more than once — the
   *    MassiveText repetition rule; the within-doc O(lines²) membership
   *    count is per-row array math, lines-per-doc-bounded, no shuffle).
   *
   * NULL text yields NULL metrics and a definitively FALSE `keep` (the
   * stopword count is 0, not NULL — a filter over the non-null stopword
   * literal — and `0 >= minStopwordHits` anchors the conjunction at
   * false whenever `minStopwordHits >= 1`; three-valued logic is
   * identical in Spark and DuckDB, so the oracle mirrors verbatim).
   * Pure per-row array expressions — no shuffle, no UDF; the word/line
   * arrays live in their own multi-referenced projection so
   * CollapseProject cannot re-inline the split per metric. The wide
   * 11-metric expression tree costs ~2.5 s of ONE-TIME plan compilation
   * (measured: 2.69 s at 500 docs vs 3.24 s at 5 000 — the marginal
   * per-row cost is ~0.1 ms and text-length-bound), which amortizes to
   * zero at corpus scale. Defaults are the published Gopher thresholds.
   */
  def gopherQuality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      bulletMarkers: Seq[String] = Seq("•", "‣", "-", "*"),
      maxBulletLineFrac: Double = 0.9, maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      gopherStopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStopwordHits: Int = 2,
      maxDupLineFrac: Double = 0.3, maxDupLineCharFrac: Double = 0.2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, s"bad word bounds: $minWords..$maxWords")
    require(bulletMarkers.nonEmpty, "bulletMarkers must be non-empty")
    require(gopherStopwords.nonEmpty, "gopherStopwords must be non-empty")
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    val lines = filter(transform(split(col(textCol), "\n"), l => trim(l)), l => length(l) > 0)
    val arr = docs.select(col(idCol), col(textCol).as("__t"),
      words.as("__w"), lines.as("__l"))
    val w = col("__w"); val l = col("__l")
    val nW = size(w).cast("double"); val nL = size(l).cast("double")
    val m = arr.select(
      col(idCol),
      size(w).as("n_words"),
      when(size(w) > 0,
        aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x).cast("double") / nW)
        .as("mean_word_len"),
      when(size(w) > 0,
        (length(col("__t")) - length(regexp_replace(col("__t"), "#", ""))).cast("double") / nW)
        .as("hash_word_ratio"),
      when(size(w) > 0,
        ((length(col("__t")) - length(regexp_replace(col("__t"), "\\.\\.\\.", ""))) / 3)
          .cast("double") / nW)
        .as("ellipsis_word_ratio"),
      when(size(l) > 0,
        size(filter(l, x => bulletMarkers.map(b => x.startsWith(b)).reduce(_ || _)))
          .cast("double") / nL)
        .as("bullet_line_frac"),
      when(size(l) > 0,
        size(filter(l, x => x.endsWith("...") || x.endsWith("…"))).cast("double") / nL)
        .as("ellipsis_line_frac"),
      when(size(w) > 0,
        size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / nW)
        .as("alpha_word_frac"),
      size(filter(typedLit(gopherStopwords),
        s => array_contains(transform(w, x => lower(x)), s))).as("stop_hits"),
      when(size(l) > 0, lit(1.0) - size(array_distinct(l)).cast("double") / nL)
        .as("dup_line_frac"),
      when(size(l) > 0,
        aggregate(transform(l, x =>
            when(size(filter(l, y => y === x)) > 1, length(x)).otherwise(lit(0))),
          lit(0), (a, x) => a + x).cast("double") /
          aggregate(transform(l, x => length(x)), lit(0), (a, x) => a + x)
            .cast("double"))
        .as("dup_line_char_frac"))
    m.withColumn("keep",
      col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen &&
        col("hash_word_ratio") <= maxSymbolRatio &&
        col("ellipsis_word_ratio") <= maxSymbolRatio &&
        col("bullet_line_frac") <= maxBulletLineFrac &&
        col("ellipsis_line_frac") <= maxEllipsisLineFrac &&
        col("alpha_word_frac") >= minAlphaWordFrac &&
        col("stop_hits") >= minStopwordHits &&
        col("dup_line_frac") <= maxDupLineFrac &&
        col("dup_line_char_frac") <= maxDupLineCharFrac)
  }

  /** Intra-document repetition score — the repeated-n-gram quality rule
    * (boilerplate and degenerate text show high duplicate-gram ratios):
    * `dup_gram_ratio = 1 − distinct_grams / total_grams` over word
    * `n`-grams WITH multiplicity. Documents shorter than `n` tokens score 0
    * (their whole text is the single gram). Exact int-over-int double
    * division both engines compute bit-identically; pure per-row map. */
  /**
   * Top-n-gram character fraction — the remaining MassiveText repetition
   * rule ([[gopherQuality]] covers the line-level pair; Rae et al. 2021
   * filter docs where the most frequent word 2/3/4-gram covers too many
   * characters, the "same phrase hammered over and over" signal that
   * [[repetition]]'s distinct-gram ratio under-reports when ONE gram
   * dominates):
   *
   *   `top_gram_char_frac = count(top gram) · length(top gram) /
   *    length(single-spaced token join)`
   *
   * The top gram per doc is picked by `(count, length, gram)` descending —
   * a total order, so the winner (and the hash-gated output) is identical
   * on any engine/partitioning. Docs with fewer than `n` tokens emit
   * count 0 / NULL gram / fraction 0.0 (nothing repeats — the rule cannot
   * fire).
   *
   * Scale shape: gram counting is ONE shuffle on `(doc, gram)` — the same
   * layout a 10⁹-doc corpus wants (per-doc array math would be O(grams²)
   * per row and hostage to one pathological document); the per-doc argmax
   * is a `max(struct)` aggregation, and the left join back to the doc
   * spine is keyed by id. No driver state. Like [[gopherQuality]], the
   * multi-stage plan costs ~2.9 s of one-time compile/scheduling
   * (measured 2.95 s at 500 docs vs 3.54 s at 5 000 — ~1.5 M grams/s
   * marginal throughput), amortizing to zero at corpus scale.
   */
  def repetitionTopGram(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val t = tokens(col(textCol))
    val toks = docs.select(col(idCol), t.as("__tk"), size(t).as("__nt"),
      length(array_join(t, " ")).as("__chars"))
    // explode a PLAIN sequence and slice per exploded row: exploding a
    // HOF-built gram array inline pays the large data-independent overhead
    // the decontaminate/repetition tuning found, and every non-generator
    // expression in the explode projection re-evaluates PER OUTPUT ROW —
    // so __chars (a full-array join) is computed before the generator
    val grams = toks
      .filter(col("__nt") >= n)
      .select(col(idCol), col("__tk"), col("__chars"),
        explode(sequence(lit(1), col("__nt") - (n - 1))).as("__i"))
      .select(col(idCol), col("__chars"),
        array_join(slice(col("__tk"), col("__i"), lit(n)), " ").as("gram"))
    val top = grams
      .groupBy(col(idCol), col("__chars"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("__chars"))
      .agg(max(struct(col("cnt"), length(col("gram")).as("len"), col("gram")))
        .as("__top"))
      .select(col(idCol),
        col("__top.gram").as("top_gram"),
        col("__top.cnt").as("top_gram_count"),
        ((col("__top.cnt") * col("__top.len")).cast("double") /
          col("__chars").cast("double")).as("top_gram_char_frac"))
    docs.select(col(idCol)).join(top, Seq(idCol), "left")
      .select(col(idCol), col("top_gram"),
        coalesce(col("top_gram_count"), lit(0L)).as("top_gram_count"),
        coalesce(col("top_gram_char_frac"), lit(0.0)).as("top_gram_char_frac"))
  }

  def repetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    // hashed grams (xxhash64), not strings: distinct counts are identical
    // modulo 64-bit collisions (~grams²/2⁶⁵ per doc — vanishing), and the
    // count comes from long compares instead of string building. Token
    // hashes live in their OWN projection referenced more than once, so
    // CollapseProject keeps them materialized instead of re-running the
    // tokenize+hash subtree per reference; the gram array is referenced
    // exactly once (n_grams needs only arithmetic: tokens − n + 1).
    val t = tokens(col(textCol))
    val tokenHashes = docs.select(col(idCol),
      transform(t, tok => xxhash64(tok)).as("__th"), size(t).as("__nt"))
    tokenHashes.select(col(idCol),
        when(col("__nt") >= n, col("__nt") - (n - 1)).otherwise(lit(1))
          .cast("int").as("n_grams"),
        size(array_distinct(Dedup.gramHashes(col("__th"), col("__nt"), n)))
          .as("n_distinct_grams"))
      .withColumn("dup_gram_ratio",
        lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
  }

  /** Sliding token-window chunking — the context-window splitter every
    * RAG / embedding / training pipeline runs on long documents: windows of
    * `chunkTokens` tokens starting every `stride` tokens (overlap =
    * `chunkTokens - stride`), last window short. One `explode` per document
    * (fan-out ≈ n_tokens/stride), pure per-row arrays otherwise — no
    * shuffle, linear at any corpus size. */
  def chunkWindows(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      chunkTokens: Int = 256, stride: Int = 192): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens]: $stride")
    require(!Seq("chunk_id", "chunk_text", "n_chunk_tokens").contains(idCol),
      s"idCol '$idCol' collides with a chunkWindows output column")
    // temp names guaranteed absent from the input (a fixed "__t" would
    // silently collide with a user column of that name)
    val taken = docs.columns.toSet
    val tCol = graft.ops.Ops.freshName(taken, "__tok")
    val nCol = graft.ops.Ops.freshName(taken, "__ntok")
    val t = tokens(col(textCol))
    docs.select(col(idCol), t.as(tCol), size(t).as(nCol))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), floor((col(nCol) - 1) / stride))))
      .select(
        col(idCol),
        col("chunk_id").cast("int").as("chunk_id"),
        concat_ws(" ", slice(col(tCol), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens), col(nCol) - col("chunk_id").cast("int") * stride)
          .cast("int").as("n_chunk_tokens"))
  }

  // PII patterns (shared Java-regex/RE2 subset — no lookarounds, no \b-in-
  // class tricks — so Spark and RE2-based engines match identical spans)
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing for training corpora: emails, NANP-style phone numbers,
    * and IPv4 literals replaced with stable placeholder tags. Email runs
    * first — its local-part charset overlaps the phone/IP digit patterns, so
    * later passes never see address text. Per-row map, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /**
   * Corpus-unigram SURPRISAL — the model-free stand-in for the classic
   * LM-perplexity quality filter: score each document by the average
   * negative log-probability of its tokens under the corpus's own unigram
   * distribution, `avg(ln(N / freq(token)))`. Gibberish / rare-script text
   * scores high (all rare tokens), degenerate boilerplate scores low (all
   * common tokens); both tails are the usual filter targets.
   *
   * Plan: one token-keyed grouped count (the vocabulary), a scalar total
   * attached as a one-row broadcast (same shape as tfidf's N), a
   * token-keyed join back, one per-doc aggregation — every shuffle keyed on
   * token or doc id, nothing driver-side. The corpus scan runs twice
   * (vocabulary + join side) — both column-pruned to (id, text).
   *
   * NULL-text docs have no tokens and are absent from the output (explode
   * emits nothing), matching the SQL `unnest` convention. Returns
   * `(idCol, n_tokens, avg_surprisal)`; callers gating against another
   * engine should round `avg_surprisal` (ln and summation order differ by
   * ulps across libms).
   */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    val freq = tokenCounts(docs, textCol, "__f")
    val total = freq.agg(sum(col("__f")).as("__n"))
    tok.join(freq, Seq("__w"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("__n").cast("double") / col("__f").cast("double"))).as("avg_surprisal"))
  }

  /** Adjacent-token bigram stream `(keep..., __w1, __w2)` — the shared
    * explode discipline of both bigram LMs: a PLAIN `sequence` exploded and
    * indexed per emitted row (the [[repetitionTopGram]] generator rule — a
    * HOF-built pair array exploded inline pays the large data-independent
    * Generate overhead); docs with < 2 tokens emit nothing. */
  private def bigramPairs(df: DataFrame, textCol: String,
      keep: Seq[Column]): DataFrame = {
    val t = tokens(col(textCol))
    df.select(keep :+ t.as("__tk") :+ size(t).as("__nt"): _*)
      .filter(col("__nt") >= 2)
      .select(keep :+ col("__tk") :+
        explode(sequence(lit(1), col("__nt") - 1)).as("__i"): _*)
      .select(keep :+ element_at(col("__tk"), col("__i")).as("__w1") :+
        element_at(col("__tk"), col("__i") + 1).as("__w2"): _*)
  }

  /**
   * Reference-corpus BIGRAM surprisal with Stupid Backoff (Brants et al.
   * 2007, "Large Language Models in Machine Translation" — the smoothing
   * built for web-scale count tables precisely because it needs no
   * discounting statistics, only raw counts): score each document's
   * adjacent token pairs under a bigram model counted from `reference` —
   * `s(w2|w1) = c(w1 w2) / c(w1)` when the reference saw the bigram, else
   * the backed-off add-one unigram `α · (c(w2)+1) / (N+V)` (the +1/+V
   * floor keeps out-of-vocabulary tokens finite where pure Stupid Backoff
   * leaves them undefined). One order up from [[unigramSurprisal]]: word
   * salad built FROM common words ("the of and is the") scores high here
   * and low there — this is the shape of CCNet's LM-perplexity filter
   * with the LM expressed as a count table instead of model weights.
   *
   * Plan: reference unigram/bigram grouped counts (vocab-sized frames —
   * broadcast-hinted when small), scalar `(N, V)` as a one-row broadcast,
   * the document bigram stream left-joined against both count frames, one
   * per-doc aggregation. Bigram formation explodes a PLAIN `sequence` and
   * indexes the token array per emitted row (the [[repetitionTopGram]]
   * generator discipline — a HOF-built pair array exploded inline pays
   * the large data-independent Generate overhead). Every shuffle is keyed
   * on a gram or the doc id; nothing driver-side; nothing quadratic.
   *
   * Documents with fewer than 2 tokens have no bigrams and are absent
   * from the output (the `unnest` convention, like [[unigramSurprisal]]).
   * Returns `(idCol, n_bigrams, avg_surprisal)` where `avg_surprisal =
   * avg(−ln s)`; callers gating against another engine should round it
   * (ln/summation order differ by ulps across libms).
   */
  def bigramSurprisal(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    // both reference count frames are gram-cardinality-sized (far below
    // the corpus) and the unigram frame is consumed three times (totals +
    // two join sides) — cached so the reference text scans once per shape
    val freq = Caches.track(tokenCounts(reference, textCol, "__c"))
    val refBg = bigramPairs(reference, textCol, Nil)
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb"))
    val totals = freq.agg(sum(col("__c")).as("__n"), count(lit(1)).as("__v"))
    val s = when(col("__cb").isNotNull,
        col("__cb").cast("double") / col("__c1").cast("double"))
      .otherwise(lit(alpha) *
        ((coalesce(col("__c2"), lit(0L)) + lit(1L)).cast("double") /
          (col("__n") + col("__v")).cast("double")))
    bigramPairs(docs, textCol, Seq(col(idCol)))
      .join(graft.ops.Ops.hintIfSmall(refBg), Seq("__w1", "__w2"), "left_outer")
      .join(graft.ops.Ops.hintIfSmall(
        freq.select(col("__w").as("__w1"), col("__c").as("__c1"))), Seq("__w1"), "left_outer")
      .join(graft.ops.Ops.hintIfSmall(
        freq.select(col("__w").as("__w2"), col("__c").as("__c2"))), Seq("__w2"), "left_outer")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-log(s)).as("avg_surprisal"))
  }

  /**
   * Interpolated Kneser–Ney bigram surprisal (Kneser & Ney 1995; the
   * smoothing KenLM ships as its default and CCNet's perplexity filter
   * actually runs) — the principled counterpart to [[bigramSurprisal]]'s
   * Stupid Backoff: instead of backing off to how OFTEN a word occurs, KN
   * backs off to how many distinct CONTEXTS it follows ("Francisco" is
   * frequent but only ever follows "San", so its continuation probability
   * is tiny — exactly the distinction a perplexity filter wants when
   * scoring boilerplate built from frequent-but-rigid collocations).
   *
   * Model, counted from `reference` and mirrored verbatim in the oracle:
   *   - `c(w1 w2)` — bigram counts; `c(w1·) = Σ_w2 c(w1 w2)` — context
   *     totals (the KN denominator is bigram STARTS, not unigram counts);
   *   - `N1+(w1·)` — distinct continuations of `w1`; `N1+(·w2)` —
   *     distinct contexts preceding `w2`; `B` — distinct bigram types;
   *     `V` — reference vocabulary size;
   *   - continuation probability with an add-one floor so OOV stays
   *     finite: `Pc(w2) = (N1+(·w2) + 1) / (B + V)`;
   *   - seen context: `P(w2|w1) = (max(c(w1 w2) − D, 0) +
   *     D · N1+(w1·) · Pc(w2)) / c(w1·)` with discount `D`;
   *   - unseen context (`c(w1·) = 0`): `P(w2|w1) = Pc(w2)`.
   *
   * Plan shape is [[bigramSurprisal]]'s: every reference statistic is a
   * gram-cardinality frame derived from ONE grouped bigram count (cached —
   * it feeds the context/continuation/type-total aggregations AND the
   * document join), scalars `(B, V)` ride as a one-row broadcast, and the
   * document bigram stream left-joins the three count frames
   * (broadcast-hinted when small) before one per-doc aggregation — every
   * shuffle keyed on a gram or the doc id, nothing driver-side, nothing
   * quadratic. Docs with < 2 tokens have no bigrams and are absent (the
   * `unnest` convention). Returns `(idCol, n_bigrams, avg_kn_surprisal)`
   * where `avg_kn_surprisal = avg(−ln P)`; callers gating against another
   * engine should round it (ln/summation order differ by ulps).
   */
  def knBigramSurprisal(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"KN discount must be in (0, 1): $discount")
    val refBg = Caches.track(bigramPairs(reference, textCol, Nil)
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb")))
    val ctx = refBg.groupBy("__w1")
      .agg(sum(col("__cb")).as("__c1"), count(lit(1)).as("__n1f"))
    val cont = refBg.groupBy("__w2").agg(count(lit(1)).as("__n1b"))
    val totals = refBg.agg(count(lit(1)).as("__b")).crossJoin(
      reference.select(explode(tokens(col(textCol))).as("__w"))
        .agg(countDistinct(col("__w")).as("__v")))
    // an empty reference (B + V = 0) would make Pc = 1/0 = Infinity and
    // every document would silently score −Infinity — fail loudly instead;
    // the guard branch is never taken on non-degenerate input, so the
    // value expression the oracle mirrors is untouched
    val pc = when(col("__b") + col("__v") === 0, raise_error(lit(
        "knBigramSurprisal: empty reference (no bigrams, no vocabulary)")))
      .otherwise((coalesce(col("__n1b"), lit(0L)) + lit(1L)).cast("double") /
        (col("__b") + col("__v")).cast("double"))
    val p = when(col("__c1").isNotNull,
        (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - lit(discount), lit(0.0)) +
          lit(discount) * col("__n1f").cast("double") * pc) / col("__c1").cast("double"))
      .otherwise(pc)
    bigramPairs(docs, textCol, Seq(col(idCol)))
      .join(graft.ops.Ops.hintIfSmall(refBg), Seq("__w1", "__w2"), "left_outer")
      .join(graft.ops.Ops.hintIfSmall(ctx), Seq("__w1"), "left_outer")
      .join(graft.ops.Ops.hintIfSmall(cont), Seq("__w2"), "left_outer")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-log(p)).as("avg_kn_surprisal"))
  }

  /**
   * PMI collocation extraction (Church & Hanks 1990) — the phrase-mining
   * step of tokenizer/vocabulary curation: bigrams that co-occur far more
   * than their unigram frequencies predict ("new york", "ground truth")
   * surface as multi-word units worth protecting in a vocabulary, while
   * high-count low-PMI pairs are just frequent-word adjacency.
   * `pmi = ln( (c12/N_bi) / ((c1/N_uni)·(c2/N_uni)) )` with `minCount`
   * pruning the long unreliable tail (the classic Church–Hanks caveat:
   * PMI of a count-1 pair is pure noise).
   *
   * Determinism contract (the bm25 cutoff rule): scores are IEEE-identical
   * across engines — totals as exact long sums divided ONCE, the same
   * division tree both sides — and the top-k ranks by `(round(pmi, 6)
   * desc, w1, w2)`, a total order, so the selected SET is engine-
   * independent at the cutoff. Scale shape: both count frames are
   * gram-cardinality-sized (never corpus-sized), `minCount` filters the
   * bigram frame BEFORE its joins, totals travel as one broadcast row,
   * and the top-k is a TakeOrdered heap — no global sort.
   */
  def collocations(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(topK > 0, s"topK must be positive: $topK")
    // unigram counts consumed three times (totals + two join sides)
    val uni = Caches.track(tokenCounts(docs, textCol, "__c"))
    // cached: consumed twice (the N_bi total and the ranked path) — without
    // it the corpus-wide bigram explode + groupBy runs once per consumer
    val bg = Caches.track(bigramPairs(docs, textCol, Nil)
      .groupBy(col("__w1").as("w1"), col("__w2").as("w2")).agg(count(lit(1)).as("pair_count")))
    val totals = bg.agg(sum(col("pair_count")).as("__nb"))
      .crossJoin(uni.agg(sum(col("__c")).as("__nu")))
    val pmi = log(
      (col("pair_count").cast("double") / col("__nb").cast("double")) /
        ((col("__c1").cast("double") / col("__nu").cast("double")) *
          (col("__c2").cast("double") / col("__nu").cast("double"))))
    bg.filter(col("pair_count") >= minCount)
      .join(graft.ops.Ops.hintIfSmall(
        uni.select(col("__w").as("w1"), col("__c").as("__c1"))), Seq("w1"))
      .join(graft.ops.Ops.hintIfSmall(
        uni.select(col("__w").as("w2"), col("__c").as("__c2"))), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("pair_count"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /**
   * Cross-corpus n-gram NOVELTY score — the data-mixing signal "how much of
   * this document has the reference corpus already seen": per document, the
   * fraction of its distinct token `n`-grams absent from the reference's
   * gram set. High novelty ⇒ new content worth keeping; near-zero ⇒
   * boilerplate / already-covered text (the soft complement to
   * [[graft.ext.Dedup.decontaminate]]'s hard drop).
   *
   * Plan: both sides shingle via [[graft.ext.Dedup.hashedShingleSets]]
   * (8-byte gram hashes — exact modulo 64-bit collisions, the family-wide
   * contract), the reference reduces to its DISTINCT grams, and the corpus
   * explodes its grams once for a semi-join + per-doc count. Everything
   * shuffles on gram hash / doc id — at 100 TB the reference gram set is a
   * plain shuffle join side (broadcast when it fits; AQE decides), never a
   * driver structure. Documents shorter than `n` tokens score their single
   * whole-doc shingle, matching the shingle contract. NULL text hashes to a
   * sentinel shingle, so pre-filter NULLs when they shouldn't score.
   *
   * Returns `(idCol, n_grams, n_seen, novelty)` with
   * `novelty = (n_grams − n_seen) / n_grams` (exact IEEE division — the
   * oracle computes the identical double).
   */
  def noveltyScores(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    // both shingle frames materialized BEFORE explode — Generate re-evaluates
    // its child per emitted element (the decontaminate/IVF deferred-eval trap)
    val refG = Caches.track(Dedup.hashedShingleSets(reference, idCol, textCol, n))
      .select(explode(col("hs")).as("g")).distinct()
    val docSh = Caches.track(Dedup.hashedShingleSets(docs, idCol, textCol, n))
    val seen = docSh.select(col(idCol), explode(col("hs")).as("g"))
      .join(refG, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    docSh.select(col(idCol), col("sz").cast("long").as("n_grams"))
      .join(seen, Seq(idCol), "left_outer")
      .na.fill(0L, Seq("n_seen"))
      .withColumn("novelty",
        (col("n_grams") - col("n_seen")).cast("double") / col("n_grams").cast("double"))
  }

  /**
   * BPE vocabulary induction (Sennrich et al. 2016, arXiv:1508.07909) —
   * learn `numMerges` byte-pair merges from the corpus, the tokenizer-
   * training step of an LLM data pipeline. Words are seeded as character
   * sequences with a terminal `</w>` symbol; each round merges the
   * globally most frequent adjacent symbol pair (count desc, then
   * lexicographic pair asc — a TOTAL order, so the learned table is
   * deterministic on any cluster/partitioning).
   *
   * Scale shape: the corpus is scanned ONCE (word histogram); every merge
   * round then runs over the WORD-TYPE table — bounded by distinct words,
   * orders of magnitude smaller than a 100 TB corpus — as ONE job: a
   * grouped count of adjacent pairs (weighted by word frequency) whose
   * scan side applies the merges so far as a chain of codegen'd
   * [[org.apache.spark.sql.graftx.BpeMergeAdjacent]] rewrites. The chain
   * is collapsed into a materialized word-type frame every
   * `checkpointEvery` rounds (lineage truncation through the
   * [[graft.ext.Caches.iterate]] round loop) — so per-round
   * work carries at most `checkpointEvery` extra narrow expression evals
   * per word type, and job count amortizes to `1 + 1/checkpointEvery` per
   * round instead of the naive 2 (measured ~2× wall-clock on small
   * vocabularies, where per-job overhead dominates). The driver receives
   * exactly ONE row per round (the argmax pair). Rounds stop early when
   * no pair reaches `minPairCount`.
   *
   * EAGER (one argmax job per round at call time). Returns the merge
   * table `(rank, left, right, pair_count)` — feed it to [[bpeSegment]].
   */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, checkpointEvery: Int = 8): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    require(checkpointEvery > 0, s"checkpointEvery must be positive: $checkpointEvery")
    val spark = docs.sparkSession
    import org.apache.spark.sql.graftx.TextFunctions.bpe_merge_adjacent
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    // corpus scan happens exactly once: word types + frequencies, seeded as
    // char symbols + terminal marker. One round = up to `checkpointEvery`
    // merges, applied lazily as an expression chain over the round's word
    // types and folded into the next round's; the last round's merges are
    // never folded (nothing reads them).
    Caches.iterate(tokenCounts(docs, textCol, "__freq")
        .select(concat(split(col("__w"), ""), array(lit("</w>"))).as("__syms"),
          col("__freq")), numMerges) { (types, _) =>
      var chain: Column = col("__syms")
      var chainDepth = 0
      while (chainDepth < checkpointEvery && merges.length < numMerges && !exhausted) {
        // adjacent-pair histogram over word TYPES weighted by word frequency;
        // zip of the two shifted slices forms the pairs without a HOF lambda
        val best = types.select(chain.as("__syms"), col("__freq"))
          .filter(size(col("__syms")) >= 2)
          .select(explode(arrays_zip(
            slice(col("__syms"), lit(1), size(col("__syms")) - 1),
            slice(col("__syms"), lit(2), size(col("__syms")) - 1))).as("__p"), col("__freq"))
          .groupBy(col("__p.0").as("__l"), col("__p.1").as("__r"))
          .agg(sum(col("__freq")).as("__c"))
          .orderBy(col("__c").desc, col("__l").asc, col("__r").asc)
          .limit(1).collect()
        if (best.isEmpty || best(0).getLong(2) < minPairCount) exhausted = true
        else {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((merges.length, l, r, c))
          chain = bpe_merge_adjacent(chain, lit(l), lit(r))
          chainDepth += 1
        }
      }
      if (exhausted || merges.length == numMerges) None
      else Some(types.select(chain.as("__syms"), col("__freq")))
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /**
   * Apply a learned [[bpeTrain]] merge table: segment every document into
   * BPE subword tokens. The merge table (≤ numMerges rows) is collected to
   * the driver and unrolled — in rank order, the published application
   * order — into a chain of codegen'd
   * [[org.apache.spark.sql.graftx.BpeMergeAdjacent]] rewrites over the
   * per-word symbol arrays, so segmentation is ONE narrow projection over
   * the corpus: no join, no shuffle, no per-row interpretation. Returns
   * `(idCol, bpe_tokens array<string>)` with the `</w>` markers kept
   * (concatenating tokens and stripping markers reconstructs the text's
   * words — the conservation contract the gate checks).
   */
  def bpeSegment(docs: DataFrame, merges: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.graftx.TextFunctions.bpe_merge_adjacent
    // rank order is the application contract; numMerges is small by
    // construction (a vocabulary budget), so the expression chain stays
    // within codegen limits for any realistic merge table
    val table = merges.select(col("rank"), col("left"), col("right"))
      .orderBy(col("rank").asc).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val seeded = docs.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "__word")))
      .select(col(idCol), col("__pos"),
        concat(split(col("__word"), ""), array(lit("</w>"))).as("__syms"))
    val merged = table.foldLeft(seeded.col("__syms")) { case (c, (l, r)) =>
      bpe_merge_adjacent(c, lit(l), lit(r))
    }
    seeded.select(col(idCol), col("__pos"), merged.as("__syms"))
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(struct(col("__pos"), col("__syms"))))
        .getField("__syms")).as("bpe_tokens"))
  }

  /**
   * Cross-entropy-difference domain scoring — the Moore–Lewis (ACL 2010)
   * "intelligent selection" signal that DSIR (Xie et al. 2023,
   * arXiv:2302.03169) generalizes with hashed n-gram features: score each
   * raw-corpus document by how much more likely its tokens are under the
   * TARGET domain's unigram distribution than under the raw corpus's own —
   * the standard "select pretraining data that looks like the target
   * domain" ranking (take the top-scoring docs, or sample ∝ exp(score)).
   *
   * Per raw document: `ce_diff = avg over tokens of
   * ln p̂_target(w) − ln p̂_raw(w)`, with add-one smoothing over the JOINT
   * vocabulary (`p̂(w) = (c(w)+1)/(N+V)`, V = |vocab(raw ∪ target)|) so
   * tokens unseen in the target score finitely negative instead of −∞.
   * Positive ⇒ more target-like than the corpus average; the avg (not sum)
   * keeps the score length-invariant, per Moore–Lewis's per-word
   * cross-entropy formulation.
   *
   * Plan shape (the 100 TB posture, same as [[unigramSurprisal]]): one
   * explode + one token-keyed count per corpus, a full-outer merge into a
   * single vocabulary frame (smoothing totals fall out of ONE agg over
   * it), then a token-keyed join back to the raw token stream — the
   * corpus-sized frames move through keyed shuffles only, the three
   * scalars travel as one broadcast row, and the vocabulary frame is
   * broadcast when small (size-gated). NULL-text docs emit no tokens and
   * are absent from the output (SQL `unnest` convention).
   *
   * Returns `(idCol, n_tokens, ce_diff)`. Callers gating against another
   * engine should round `ce_diff` (ln/summation order differ by ulps
   * across libms).
   */
  def crossEntropyDiff(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tokR = raw.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
    // both count frames are vocab-sized (tiny next to the corpora) and each
    // is referenced twice (scalar totals + the per-token join) — persisted
    // so neither reference re-scans its corpus. A single full-outer vocab
    // frame instead costs a sort-merge join where these cost none.
    val freqR = Caches.track(tokenCounts(raw, textCol, "__fr"))
    val freqT = Caches.track(tokenCounts(target, textCol, "__ft"))
    // N_raw, N_target, and the joint-vocab size in ONE pass over the two
    // cached count frames; travels as a single broadcast row
    val totals = freqR.select(col("__w"), col("__fr").as("__c"), lit(0).as("__t"))
      .unionByName(freqT.select(col("__w"), col("__ft").as("__c"), lit(1).as("__t")))
      .agg(sum(when(col("__t") === 0, col("__c"))).as("__nr"),
        sum(when(col("__t") === 1, col("__c"))).as("__nt"),
        count_distinct(col("__w")).as("__v"))
    tokR.join(graft.ops.Ops.hintIfSmall(freqR), Seq("__w"))
      .join(graft.ops.Ops.hintIfSmall(freqT), Seq("__w"), "left_outer")
      .na.fill(0L, Seq("__ft"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log((col("__ft") + lit(1L)).cast("double") / (col("__nt") + col("__v")).cast("double"))
          - log((col("__fr") + lit(1L)).cast("double") / (col("__nr") + col("__v")).cast("double")))
          .as("ce_diff"))
  }

  /**
   * Multinomial naive Bayes text classification (train + apply in one
   * plan) — the fastText-class router every corpus pipeline uses to split
   * documents by language/domain/quality tier when the n-gram heuristic
   * ([[langId]]) is not enough: add-one-smoothed per-label token
   * likelihoods learned from a labeled split, argmax over
   * `ln p(label) + Σ tf·ln p(token|label)`.
   *
   * The smoothing algebra keeps the plan to ONE token-keyed join: with
   * Laplace smoothing, an UNSEEN token contributes `ln 1 − ln(T_l + V) =
   * −ln(T_l + V)`, the same per-token constant a seen token also carries —
   * so `score = ln(d_l/D) − n·ln(T_l + V) + Σ_seen tf·ln(c+1)` and only
   * SEEN (doc-token, label) pairs ever join (unseen tokens fold into the
   * `n·ln(T_l+V)` term). Scores round to 6 before the argmax and ties
   * break label-ascending, so the prediction is a cross-engine total
   * order (the [[langId]] determinism contract).
   *
   * Scale shape: the model is the vocab-sized (label, token) count frame
   * — joined by token key, never broadcast corpus-side; the doc×label
   * score spine is |test| × |labels| rows (labels are a broadcast
   * handful); everything else is grouped sums with map-side combine.
   *
   * Output: (id, gold, predicted, correct) per test document.
   */
  def nbClassify(train: DataFrame, test: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "lang"): DataFrame = {
    val tr = train.filter(col(textCol).isNotNull)
      .select(col(labelCol).as("__l"), col(textCol).as("__txt"))
    val trTok = tr.select(col("__l"), explode(tokens(col("__txt"))).as("__w"))
    // the model: vocab-sized, referenced by the totals AND the score join
    val cnt = Caches.track(trTok.groupBy("__l", "__w").agg(count(lit(1)).as("__c")))
    val labelStats = broadcast(cnt.groupBy("__l").agg(sum("__c").as("__tot"))
      .join(tr.groupBy("__l").agg(count(lit(1)).as("__dl")), Seq("__l")))
    // V from the cached model frame, D = Σ d_l from the label-cardinality
    // stats — neither re-scans the train corpus (the doc-count groupBy
    // above is the one corpus pass the priors genuinely need)
    val scalars = broadcast(cnt.agg(count_distinct(col("__w")).as("__v"))
      .crossJoin(labelStats.agg(sum("__dl").as("__dtot"))))
    val te = test.filter(col(textCol).isNotNull)
      .select(col(idCol), col(labelCol).as("gold"), col(textCol).as("__txt"))
    val teTok = Caches.track(te
      .select(col(idCol), explode(tokens(col("__txt"))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf")))
    val nTok = teTok.groupBy(col(idCol)).agg(sum("__tf").as("__n"))
    // seen-token evidence accumulates as EXACT long micro-nats
    // (round(tf·ln(c+1)·1e6) per token, summed as integers) — a raw double
    // sum is accumulation-order-dependent, and a last-ulp difference near
    // the round-6 argmax boundary could flip a predicted label between
    // engines (r17 advice); the oracle quantizes identically
    val hits = teTok.join(graft.ops.Ops.hintIfSmall(cnt), Seq("__w"))
      .groupBy(col(idCol), col("__l"))
      .agg(sum(round(col("__tf").cast("double") *
        log((col("__c") + 1).cast("double")) * 1e6, 0).cast("long")).as("__hsq"))
    val spine = te.select(col(idCol), col("gold"))
      .join(nTok, Seq(idCol))
      .crossJoin(labelStats).crossJoin(scalars)
    val score = log(col("__dl").cast("double") / col("__dtot")) -
      col("__n").cast("double") * log((col("__tot") + col("__v")).cast("double")) +
      coalesce(col("__hsq"), lit(0L)).cast("double") / 1e6
    val scored = spine.join(hits, Seq(idCol, "__l"), "left_outer")
      .select(col(idCol), col("gold"), col("__l"), round(score, 6).as("__s"))
    val pick = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("__s").desc, col("__l"))
    scored.withColumn("__r", row_number().over(pick)).filter(col("__r") === 1)
      .select(col(idCol), col("gold"), col("__l").as("predicted"),
        (col("__l") === col("gold")).as("correct"))
  }
}
