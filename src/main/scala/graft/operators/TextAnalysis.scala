package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north-star scope, beyond the reference's own surface).
  * Everything is a pure column expression — codegen'd, no UDFs, no state —
  * so a 100 TB documents table processes as a single narrow scan stage.
  */
object TextAnalysis {

  /** Whitespace tokens of a trimmed document. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count — the native single-pass byte-scan kernel
    * (`expressions/WordCount`), value-identical to `size(tokens(c))`
    * (WordCountSpec fuzz-proves the equality) without the regex NFA or
    * the per-token array allocation. Counting is the battery's hot path;
    * the array form remains `tokens` for operators that need the tokens
    * themselves. */
  def tokenCount(c: Column): Column = graft.expressions.WordCount(c)

  /** BPE-ish token count: GPT-2-style pre-tokenizer regex (contractions,
    * letter runs, digit runs, punctuation runs, whitespace runs) — a cheap,
    * deterministic proxy for subword token counts. */
  val bpeishPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeishPattern), lit(0)))

  /** Language marker words for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for",
                "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
                "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "que", "pour",
                "dans"),
    "es" -> Seq("el", "los", "las", "es", "que", "un", "por", "como", "para",
                "del"))

  private def markerRegex(words: Seq[String]): String =
    words.mkString("\\b(", "|", ")\\b")

  /** Count of marker-word hits for one language. */
  def langScore(c: Column, lang: String): Column = {
    val words = langMarkers.toMap.apply(lang)
    size(regexp_extract_all(lower(c), lit(markerRegex(words)), lit(0)))
  }

  /** Heuristic language ID: highest marker-hit count wins, ties resolved in
    * langMarkers order; CJK codepoints short-circuit to "zh"; no hits at all
    * → "und". */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, _) => l -> langScore(c, l) }
    // fold a running (bestLang, bestScore) pair of columns; strictly-greater
    // keeps the first-listed language on ties
    val (bestLang, bestScore) = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (l, s)) =>
        (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(c.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(bestScore > 0, bestLang)
      .otherwise(lit("und"))
  }

  /** Quality-score components (all in [0,1]-ish ranges, cheap ratios). */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def upperRatio(c: Column): Column =
    length(regexp_replace(c, "[^A-Z]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def stopwordRatio(c: Column): Column =
    langScore(c, "en").cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  def meanWordLen(c: Column): Column =
    length(regexp_replace(c, "\\s+", "")).cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  /** Composite quality score: length-band membership + punctuation sanity +
    * stopword presence + word-length sanity. Higher is better, max 4.0. */
  def qualityScore(c: Column): Column = {
    val n = tokenCount(c)
    val lenOk = when(n.between(10, 100000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(c) < 0.2, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(c) > 0.01, 1.0).otherwise(0.0)
    val wordOk = when(meanWordLen(c).between(2.0, 12.0), 1.0).otherwise(0.0)
    lenOk + punctOk + stopOk + wordOk
  }

  /** Canonical text normalization for fingerprinting: lowercase, strip
    * non-alphanumerics to single spaces, trim. */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "[^\\p{L}\\p{N}]+", " "))

  /** Content fingerprint: md5 of the normalized text — two documents with
    * the same fingerprint are exact duplicates modulo case/punctuation/
    * whitespace. */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** URL canonicalization for crawl-level dedup — the FIRST dedup pass a
    * web corpus runs, before any content is fetched or compared: two
    * fetches of the same canonical URL are the same document regardless
    * of tracking params, fragment, case of scheme/host, default port, or
    * a trailing slash. Deterministic regexp chain (codegen'd, zero
    * shuffle):
    *  1. drop the #fragment;
    *  2. lowercase scheme://host (path/query stay case-sensitive);
    *  3. strip an explicit :80/:443 default port;
    *  4. remove utm_* / fbclid / gclid tracking parameters wherever they
    *     sit in the query string (and a now-empty '?');
    *  5. strip one trailing slash. */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    // authority = scheme://host[:port], terminated by '/', '?' or end —
    // the [^/?#] classes keep a path-less URL's query string out of the
    // authority (and therefore out of the lowercasing), and anchoring the
    // port strip to the END of the authority keeps ':80'/':443' inside
    // path or query values untouched
    val auth = regexp_extract(noFrag, "^([^/?#]+//[^/?#]*)", 1)
    val rest = regexp_replace(noFrag, "^[^/?#]+//[^/?#]*", "")
    val joined = concat(
      regexp_replace(lower(auth), ":(80|443)$", ""), rest)
    val track = "(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*"
    val noTrack = regexp_replace(
      regexp_replace(
        regexp_replace(joined, "&" + track, ""),
        "\\?" + track + "&", "?"),
      "\\?" + track + "$", "")
    regexp_replace(noTrack, "/$", "")
  }

  /** Mojibake repair — the ftfy-style fix for the single most common
    * encoding corruption in web crawls: UTF-8 bytes decoded as Latin-1
    * ("café" → "cafÃ©"). Native expression (`expressions/MojibakeRepair`)
    * because the guard is inexpressible with built-ins: Spark 4's
    * `decode` THROWS on invalid bytes, so genuine Latin-1 text would
    * kill the job instead of passing through. The kernel re-encodes the
    * Latin-1 image and strictly validates UTF-8; anything that fails
    * passes through byte-identical. Codegen'd, zero shuffle. */
  def fixMojibake(c: Column): Column =
    graft.expressions.MojibakeRepair(c)

  /** Registrable host for per-domain policies (domain capping, blocklists,
    * per-site quotas — the C4/RefinedWeb curation knobs): the URL's host,
    * lowercased, userinfo ("user:pass@") and port stripped, one leading
    * "www." folded. Requires a "//" scheme separator (scheme-relative
    * "//host/…" included); scheme-less strings yield '' — route bare
    * hostnames through canonicalizeUrl first. Pure regexp extraction —
    * codegen'd, zero shuffle. Patterns stay inside the Java-regex ∩ RE2
    * subset so a DuckDB oracle can replay them verbatim (the PII-battery
    * discipline).
    *
    * Userinfo strips GREEDILY (`^.*@`): RFC 3986 §3.2 takes the host
    * after the LAST '@' in the authority (browsers agree), so
    * 'http://a@trusted.com@evil.com/' yields 'evil.com' — a lazy
    * first-'@' strip would hand a domain-keyed blocklist/cap policy
    * 'trusted.com@evil.com' instead. The captured authority already
    * excludes '/?#', so the greedy '.*' cannot eat past the authority. */
  def extractDomain(url: Column): Column =
    regexp_replace(
      regexp_replace(
        lower(regexp_replace(
          regexp_extract(url, "^[^/?#]*//([^/?#]+)", 1),
          "^.*@", "")),
        ":[0-9]*$", ""),
      "^www\\.", "")

  /** Crawl-HTML → text extraction (the WET step every web corpus runs
    * before any text operator sees a byte): strip comments, script and
    * style blocks (non-greedy, (?i) — inline flags are shared Java/RE2
    * syntax), then every remaining tag, decode the five core character
    * entities (&amp; LAST, so double-escaped entities surface as their
    * single-escaped text form — the W3C-ordering every real decoder uses),
    * and collapse whitespace. A deterministic regexp/replace chain:
    * codegen'd, zero shuffle, and replayable verbatim by a SQL oracle.
    * [\s\S] stands in for DOTALL so blocks spanning newlines die without
    * needing a flag RE2 spells differently. */
  def extractHtmlText(html: Column): Column = {
    val noComment = regexp_replace(html, "<!--[\\s\\S]*?-->", " ")
    val noScript =
      regexp_replace(noComment, "(?i)<script[\\s\\S]*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?i)<style[\\s\\S]*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
