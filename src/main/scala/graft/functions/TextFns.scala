package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar layer for the LLM-data-pipeline surface: tokenizing,
  * shingling, quality signals, language-ID heuristics, fingerprinting. All
  * pure Column expressions (codegen-friendly, no UDFs) so they survive
  * whole-stage codegen on a 100 TB scan.
  */
object TextFns {

  /** Whitespace tokenizer — the baseline unit for every op below. Input is
    * trimmed first: split("\\s+") on leading whitespace yields a phantom
    * empty first token that would skew every count/ratio built on top. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Sentence segmentation: split on terminal-punctuation runs followed
    * by whitespace (`[.!?]+\s+` — no lookbehind, so the SAME pattern runs
    * under RE2 in a replay oracle; terminal punctuation of the final
    * sentence is kept, interior ones are consumed by the split). Empty
    * fragments (leading punctuation, whitespace runs) are filtered.
    * Scan-side, zero shuffle — the preprocessing unit between whole-doc
    * ops and token windows. */
  def sentences(c: Column): Column =
    filter(split(c, "[.!?]+\\s+"), x => trim(x) =!= "")

  /** UTF-8 byte length (matches DuckDB octet_length(encode(...))). */
  def byteLength(c: Column): Column = octet_length(c).cast("long")

  /** BPE-ish token estimate: bytes/4 rounded up — the standard ~4 bytes per
    * subword heuristic; deterministic and SQL-expressible. */
  def tokenEstimate(c: Column): Column =
    ceil(octet_length(c) / lit(4.0)).cast("long")

  /** BPE-ish subword-regex token count (the brief's second counting form
    * next to [[tokenCount]]/[[tokenEstimate]]): letter runs, digit runs,
    * and every other non-space char count one token each — the GPT-2
    * pre-tokenizer shape reduced to an engine-portable regex (CJK text
    * tokenizes per character, as a byte-level BPE effectively does). */
  def tokenCountRegex(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** ASCII punctuation count (\p{Punct} == POSIX [[:punct:]] in RE2). */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\p{Punct}"), lit(0))).cast("long")

  /** Punctuation density over non-whitespace chars (quality signal:
    * boilerplate/markup skews high). Null for all-whitespace docs. */
  def punctRatio(c: Column): Column = {
    val nonSpace = length(regexp_replace(c, "\\s+", ""))
    when(nonSpace > 0, punctCount(c).cast("double") / nonSpace)
  }

  /** Fraction of tokens found in `stopwords` (quality signal). */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val stops = array(stopwords.map(lit): _*)
    val hits = size(filter(tokens(c), t => array_contains(stops, t)))
    hits.cast("double") / size(tokens(c))
  }

  /** Mean token length in bytes (quality signal: gibberish skews long). */
  def meanTokenLen(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + octet_length(t))
        .cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Word n-gram shingles ("a b c d", n=2 → ["a b", "b c", "c d"]),
    * de-duplicated — the unit for MinHash/Jaccard near-dup detection.
    * Dispatches to the native `WordShingles` expression (one fused
    * tokenize+window+dedup pass per row); [[shinglesHof]] is the
    * differential baseline. */
  def shingles(c: Column, n: Int): Column =
    call_function("word_shingles", c, lit(n))

  /** HOF reference implementation of [[shingles]] — kept as the
    * differential-test baseline for the native expression. */
  def shinglesHof(c: Column, n: Int): Column = {
    val ws = tokens(c)
    array_distinct(
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => array_join(slice(ws, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>")))
  }

  /** Language-ID marker vocabularies (tiny n-gram/stopword heuristic). The
    * priority order below is the deterministic tie-break. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "los", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScore(c: Column, markers: Seq[String]): Column = {
    val ms = array(markers.map(lit): _*)
    size(filter(tokens(c), t => array_contains(ms, t))).cast("long")
  }

  /** Predicted language: highest marker count wins, ties broken by the
    * LangMarkers order, all-zero → 'und'.
    *
    * Single `aggregate` pass on purpose: a when-chain of per-language
    * [[langScore]]s re-embeds the tokenize+filter tree in every branch
    * (and in the `greatest`), so after projection collapse each row paid
    * ~30 tokenizations — measured 56 s → 1.5 s at sf0.1. Here the token
    * array is the aggregate input (bound once per row) and the argmax
    * runs in the finish lambda over the bound 5-element counts array. */
  def langId(c: Column): Column = {
    val n = LangMarkers.size
    val markers2d = array(LangMarkers.map { case (_, ms) => array(ms.map(lit): _*) }: _*)
    val counts = aggregate(
      tokens(c),
      array(Seq.fill(n)(lit(0L)): _*),
      (acc, t) => transform(sequence(lit(1), lit(n)), i =>
        element_at(acc, i) +
          when(array_contains(element_at(markers2d, i), t), lit(1L)).otherwise(lit(0L))),
      acc => {
        val best = (1 to n).map(i => element_at(acc, lit(i))).reduce(greatest(_, _))
        LangMarkers.zipWithIndex.foldLeft(when(best === 0, lit("und"))) {
          case (w, ((lang, _), i)) => w.when(element_at(acc, lit(i + 1)) === best, lit(lang))
        }.otherwise(lit("und"))
      })
    // null text: the aggregate is null, but the when-chain form returned
    // 'und' (null conditions are false) and so does the DuckDB oracle's
    // CASE — keep that contract
    coalesce(counts, lit("und"))
  }

  /** Unicode normalization (default NFC) via the native
    * [[graft.plans.NormalizeUnicode]] expression — run it scan-side ahead
    * of any exact text op (fingerprints, token counts, phrase search, PII
    * regexes): composed vs decomposed encodings of the same text otherwise
    * miss every exact match. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    call_function("normalize_unicode", c, lit(form))

  /** Subword token ids by greedy longest match against `vocab` (native
    * [[graft.plans.GreedyTokenize]] expression); -1 = unknown char.
    * Vocab entries may not contain ',' (the registry transport). */
  def greedyTokenize(c: Column, vocab: Seq[String]): Column = {
    require(vocab.forall(!_.contains(",")),
      "vocab entries must not contain ',' — the function-registry transport joins on it")
    call_function("greedy_tokenize", c, lit(vocab.mkString(",")))
  }

  // ── script / writing-system detection (pairs with langId: langId reads
  //    marker WORDS, these read CHARACTER ranges — the only signal when
  //    the vocabulary is open) ────────────────────────────────────────────

  /** Characters matched per script, as (name, regex char class) in the
    * Java∩RE2 dialect (\x{...} ranges work in both). Priority order is the
    * deterministic tie-break for [[dominantScript]]. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]")

  def scriptCount(c: Column, clazz: String): Column =
    size(regexp_extract_all(c, lit(clazz), lit(0))).cast("long")

  /** Highest-count script wins; ties break in ScriptClasses order; no
    * script characters at all → 'und'. Takes ALREADY-MATERIALIZED count
    * columns (project [[scriptCount]]s into named columns first, then call
    * this on the attributes): inlining the count trees here would re-run
    * every regex once per when-branch after projection collapse — the
    * langId 56-second lesson. */
  def dominantScriptFrom(counts: Seq[(String, Column)]): Column = {
    val best = counts.map(_._2).reduce(greatest(_, _))
    counts.foldLeft(when(best === 0, lit("und"))) {
      case (w, (n, cnt)) => w.when(cnt === best, lit(n))
    }.otherwise(lit("und"))
  }

  /** Document fingerprint: md5 over whitespace-collapsed lowercase text —
    * the exact-dedup key (reference dedups raw rows; at 100 TB a 16-byte
    * digest groups without shuffling full documents). */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(c, "\\s+", " ")).cast("binary"))

  /** Rolling character-k-gram fingerprint (the winnowing-family form of
    * [[fingerprint]]): the minimum digest over every k-char window of the
    * normalized text. Where the whole-document digest changes on ANY edit,
    * the rolling minimum survives edits outside the minimizing window —
    * the content-defined-chunking trick. min over hex digests =
    * lexicographic min, identical in Spark and DuckDB. Texts shorter than
    * k fall back to the whole-document digest. */
  def rollingFingerprint(c: Column, k: Int = 16): Column =
    rollingFingerprintOfNorm(lower(regexp_replace(c, "\\s+", " ")), k)

  /** [[rollingFingerprint]] over an ALREADY-normalized column. Callers on a
    * hot path should normalize into a materialized column first and pass
    * the attribute: an expression argument is evaluated once per row
    * here, but the HOF reference form below evaluates it once per WINDOW
    * (~300× per document) — measured 37 s → ~2 s at sf0.1.
    *
    * Dispatches to the native `RollingFpMin` expression (one reused
    * MessageDigest + raw-digest min per document; hex only the winner);
    * [[rollingFingerprintOfNormHof]] is the differential baseline. */
  def rollingFingerprintOfNorm(norm: Column, k: Int = 16): Column =
    call_function("rolling_fp_min", norm, lit(k))

  /** HOF reference implementation of [[rollingFingerprintOfNorm]] — kept
    * as the differential-test baseline for the native expression. */
  def rollingFingerprintOfNormHof(norm: Column, k: Int = 16): Column =
    when(length(norm) >= k,
      array_min(transform(sequence(lit(1), length(norm) - (k - 1)),
        i => md5(norm.substr(i, lit(k)).cast("binary")))))
      .otherwise(md5(norm.cast("binary")))

  // ── PII scrubbing (training corpora must not memorize contact data) ────
  //
  // The three regexes are written in the Java∩RE2 common dialect (character
  // classes, bounded repetition, non-capturing groups, \b) so Spark
  // (java.util.regex) and the DuckDB oracle (RE2) match the exact same
  // spans. Deliberately conservative patterns: a false negative leaves one
  // string unredacted; an over-greedy pattern silently corrupts documents.

  /** user@host.tld — local part, then a dotted domain with an alpha TLD. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** International-format phone: '+' then 8+ digits with optional single
    * spaces between groups (the unambiguous form; bare digit runs collide
    * with ids/quantities and are left alone). */
  val PhoneRegex = "\\+[0-9](?:[0-9]| [0-9]){7,}"

  /** Dotted-quad IPv4. Word-bounded so digits embedded in alphanumeric
    * tokens can't anchor a match; a longer dotted run (a 5-part version
    * string) still yields one over-match — RE2 (the oracle engine) has no
    * lookbehind to forbid it, and for PII the safe failure direction is
    * over-redaction. */
  val Ipv4Regex = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailRegex), lit(0))).cast("long")
  def phoneCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PhoneRegex), lit(0))).cast("long")
  def ipv4Count(c: Column): Column =
    size(regexp_extract_all(c, lit(Ipv4Regex), lit(0))).cast("long")

  // ── HTML → text extraction (the step between a raw crawl and every
  //    text op above; regex-pipeline form in the Java∩RE2 common dialect
  //    so an oracle engine replays byte-identically) ─────────────────────

  /** Main-content text from raw HTML:
    *
    *  1. drop <script>/<style> blocks wholesale (code is not content);
    *  2. turn block-closing tags (p, div, li, h1-h6, br, tr) into
    *     newlines so paragraph structure survives for the line-based
    *     curation ops;
    *  3. strip every remaining tag;
    *  4. decode the five XML entities + &nbsp;  (&amp; LAST — decoding it
    *     first would re-interpret '&amp;lt;' as a tag opener);
    *  5. collapse runs of spaces/tabs and of newlines, trim.
    *
    * Pure chained regexes: codegen-friendly, scan-side, no parser state.
    * (A DOM parser is more faithful on pathological HTML; for corpus
    * curation the regex pipeline is the standard cost/fidelity trade —
    * and the only engine-portable one.) */
  def htmlToText(c: Column): Column = {
    val noScript = regexp_replace(c,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)>", " ")
    val blocks = regexp_replace(noScript,
      "(?i)<(/p|/div|/li|/h[1-6]|/tr|br\\s*/?)>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(noTags, "&nbsp;", " "),
              "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;", "'"),
      "&amp;", "&")
    // trim() strips only spaces — the trailing '</body></html>' leaves a
    // trailing newline, so strip all boundary whitespace by regex
    regexp_replace(
      regexp_replace(regexp_replace(entities, "[ \\t]+", " "),
        "\\s*\\n\\s*", "\n"),
      "^\\s+|\\s+$", "")
  }

  // ── URL canonicalization (web-corpus curation: dedup keys, host-level
  //    policy filters and stats all run on the CANONICAL url, or else one
  //    page counts as many) ────────────────────────────────────────────────
  //
  // All pure regex/array expressions in the Java∩RE2 common dialect so an
  // oracle engine replays byte-identically. The pipeline: lowercase
  // scheme+host, strip a default port (:80/:443) and a leading 'www.',
  // drop the fragment, drop tracking query params (utm_*, ref, fbclid,
  // gclid), sort surviving params.

  /** Lowercased scheme ("https"), '' if the value is not a URL. */
  def urlScheme(u: Column): Column =
    lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** Canonical host: lowercased, default port and leading www. stripped. */
  def urlHost(u: Column): Column =
    regexp_replace(
      regexp_replace(lower(regexp_extract(u, "^[^/]*//([^/?#]+)", 1)),
        ":(443|80)$", ""),
      "^www\\.", "")

  /** Path component (case preserved — paths are case-sensitive). */
  def urlPath(u: Column): Column =
    regexp_extract(u, "^[^/]*//[^/?#]*([^?#]*)", 1)

  /** Canonical query string: tracking params dropped, the rest sorted;
    * '' when nothing survives. */
  def urlQueryCanon(u: Column): Column = {
    val params = filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[A-Za-z]+|ref|fbclid|gclid)="))
    array_join(array_sort(params), "&")
  }

  /** Full canonical URL from the parts above. */
  def canonicalUrl(u: Column): Column = {
    val qs = urlQueryCanon(u)
    concat(urlScheme(u), lit("://"), urlHost(u), urlPath(u),
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
  }

  /** Replace every email / phone / IPv4 span with a typed placeholder
    * token. Order matters and is fixed: emails first (their digits must
    * not be re-matched as phones), then phones, then IPs (placeholders
    * contain no digits or dots, so later passes can't touch earlier
    * redactions). Pure codegen'd expressions — scan-side at 100 TB. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRegex, "<EMAIL>"),
        PhoneRegex, "<PHONE>"),
      Ipv4Regex, "<IP>")
}
