package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines.
  * All pure Column expressions — no UDFs — so every function stays inside
  * whole-stage codegen and scales linearly with executors.
  */
object TextFunctions {

  /** Whitespace tokens; empty/null text → empty array. */
  def tokens(text: Column): Column =
    // the trailing coalesce-to-[] never fires (the CASE already maps
    // null/blank to []) but makes the column PROVABLY non-nullable: a
    // nullable token array infects every signature expression built on it,
    // and join-key IsNotNull inference then pushes an
    // `isnotnull(minhash_sig(...))` filter below the signature projection —
    // recomputing the whole signature once more per row in FilterExec
    coalesce(
      when(length(trim(text)) === 0 || text.isNull, array().cast("array<string>"))
        .otherwise(split(trim(text), "\\s+")),
      array().cast("array<string>"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Canonical training-corpus text normalization: lowercase, every
    * non-alphanumeric run → one space, trimmed. Chosen to equal the SQL
    * form `trim(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g'))` exactly,
    * so normalized output stays oracle-checkable across engines.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "[^a-z0-9]+", " "))

  /** Canonical URL for URL-level dedup — the first dedup pass of every
    * web-crawl pipeline (cheaper than any content compare and catches the
    * bulk of recrawl duplicates). Rules, each a deliberate pure-Column op
    * restatable verbatim in an external SQL engine:
    *   1. lowercase the scheme and the HOST (never the path/query, and
    *      never the userinfo — RFC 3986 makes only scheme and host
    *      case-insensitive, and case-folding credentials would merge
    *      distinct resources);
    *   2. drop the fragment (`#…` — client-side only);
    *   3. drop the default port (`:80` for http, `:443` for https);
    *   4. drop tracking parameters (`utm_*`, `fbclid`, `gclid`);
    *   5. sort the surviving query parameters (order never changes the
    *      resource) and drop an emptied query entirely;
    *   6. empty path → `/`, and a trailing slash on a non-root path is
    *      dropped, so `http://a.com`, `HTTP://A.com/` and
    *      `http://a.com/#top` all canonicalize identically.
    * A string without a `scheme://` prefix is not a URL — returned
    * trimmed, otherwise untouched.
    */
  def canonicalUrl(url: Column): Column = {
    val u = trim(coalesce(url, lit("")))
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rawAuth = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    // userinfo ("user:pass@", case-SENSITIVE) passes through untouched;
    // only the host[:port] part case-folds
    val userinfo = regexp_extract(rawAuth, "^(.*@)", 1)
    val hostPort = lower(regexp_replace(rawAuth, "^.*@", ""))
    val hostNoPort = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val authNoPort = concat(userinfo, hostNoPort)
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_extract(rest, "^([^?#]*)", 1)
    val stripped = when(path === "", lit("/"))
      .when(path =!= "/" && path.endsWith("/"), path.substr(lit(1), length(path) - 1))
      .otherwise(path)
    val query = regexp_extract(rest, "\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))), "&")
    when(scheme === "", u).otherwise(concat(
      scheme, lit("://"), authNoPort, stripped,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /** Lowercased host of a URL — no scheme, userinfo, port, path, query or
    * fragment; empty string when the input has no `scheme://` prefix.
    * The key every host-level curation rule (blocklists, per-domain caps)
    * matches on.
    */
  def urlHost(url: Column): Column = {
    val rawAuth = regexp_extract(trim(coalesce(url, lit(""))),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    lower(regexp_replace(regexp_replace(rawAuth, "^.*@", ""), ":[0-9]*$", ""))
  }

  /** Label-boundary suffix chain of a host: `a.b.c.com` →
    * `["a.b.c.com","b.c.com","c.com","com"]` — the set a domain blocklist
    * is probed against ("blocked" = any suffix listed). Empty/blank labels
    * drop, so a trailing-dot FQDN chains identically to its plain form.
    */
  def hostSuffixes(host: Column): Column =
    bindOnce(filter(split(lower(coalesce(host, lit(""))), "\\."), p => p =!= "")) {
      labels =>
        when(size(labels) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(labels)),
            i => array_join(slice(labels, i, size(labels) - i + 1), ".")))
    }

  /** Above this many domains [[domainBlocked]] switches from the literal
    * `arrays_overlap` form (oracle-restatable, but the list is plan
    * structure) to the native [[graft.functions.HostBlocked]] expression,
    * whose list is a per-executor hash set (a UT1-scale blocklist is
    * millions of domains).
    */
  val BlocklistLiteralThreshold = 64

  /** True when `url`'s host equals or is a subdomain of any blocklist
    * domain — the C4/RefinedWeb URL-filter curation step. Matching is on
    * whole dot-separated labels (`tracker.com` blocks `ads.tracker.com`,
    * never `nottracker.com`). Map-only; small lists stay pure column
    * algebra, large ones route through the native expression (equality
    * spec-pinned).
    */
  def domainBlocked(url: Column, domains: Seq[String]): Column = {
    val cleaned = domains.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    if (cleaned.isEmpty) lit(false)
    else if (cleaned.size <= BlocklistLiteralThreshold)
      arrays_overlap(hostSuffixes(urlHost(url)), lit(cleaned.toArray))
    else org.apache.spark.sql.GraftShims.toColumn(
      HostBlocked(org.apache.spark.sql.GraftShims.toExpression(urlHost(url)), cleaned))
  }

  /** Fill-in-the-middle (FIM) transform — the code-model training-data
    * reordering of Bavarian et al. 2022 ("Efficient Training of Language
    * Models to Fill in the Middle"), PSM layout: a hash-selected `rate`
    * fraction of documents is rewritten
    * `PRE + prefix + SUF + suffix + MID + middle`, teaching the model to
    * infill; the rest pass through unchanged. All randomness derives
    * from `md5(seed|…|key)` — the [[graft.llm.Mix.assignSplits]] basis —
    * so selection AND the two split points are deterministic,
    * partition-independent, and restatable verbatim in external SQL
    * (character positions; both engines' substr count characters).
    * Map-only, zero shuffle. A null `key` passes the document through
    * (selection can't be decided); null text stays null.
    *
    * Sentinel DEFAULTS are placeholders — real pipelines pass their
    * tokenizer's reserved sentinel strings and guarantee they don't
    * occur in the corpus (this function deliberately does not guess a
    * vocabulary).
    */
  def fimTransform(text: Column, key: Column, seed: String, rate: Double = 0.5,
      pre: String = "<PRE>", suf: String = "<SUF>", mid: String = "<MID>"): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"fimTransform: rate must be in [0,1]: $rate")
    def h(tag: String): Column =
      md5(concat(lit(seed), lit(tag), key.cast("string")))
    val bucket = substring(h("|"), 1, 8)
    val thr = f"${math.floor(rate * 4294967296.0).toLong.min(4294967295L)}%08x"
    def pos(tag: String): Column =
      conv(substring(h(tag), 1, 8), 16, 10).cast("long") % (length(text) + 1)
    val p1 = pos("|p1|")
    val p2 = pos("|p2|")
    val lo = least(p1, p2)
    val hi = greatest(p1, p2)
    // rate 1.0 selects ALL rows — the 8-hex bucket tops out at ffffffff,
    // which a strict < threshold would exclude with probability 2⁻³²
    val selected = if (rate >= 1.0) lit(true) else bucket < lit(thr)
    when(key.isNotNull && selected,
      concat(lit(pre), text.substr(lit(1), lo),
        lit(suf), text.substr(hi + 1, length(text) - hi),
        lit(mid), text.substr(lo + 1, hi - lo)))
      .otherwise(text)
  }

  /** Sentence segmentation under a DETERMINISTIC boundary rule: a run of
    * terminal punctuation `[.!?]` plus any trailing closing quotes or
    * brackets, followed by whitespace, ends a sentence; pieces are
    * trimmed, empties drop. Deliberately list-free — no abbreviation
    * handling ("Dr. Smith" splits), because the rule is a cross-engine-
    * exact CONTRACT (same regex replays in any engine), the property
    * sentence-level dedup and span units need more than linguistic
    * perfection. The U+001E marker is stripped from input first, so a
    * pathological document cannot forge boundaries. Map-only.
    */
  def sentences(text: Column): Column = {
    val clean = regexp_replace(coalesce(text, lit("")), "\u001E", "")
    val marked = regexp_replace(clean, "([.!?]+[\"')\\]]*)\\s+", "$1\u001E")
    filter(transform(split(marked, "\u001E"), s => trim(s)), s => s =!= "")
  }

  /** Number of sentences under the [[sentences]] boundary rule. */
  def sentenceCount(text: Column): Column = size(sentences(text))

  /** BPE-ish subword token estimate: word-boundary regex pieces (letter
    * runs, digit runs, punctuation singletons; whitespace not counted),
    * the standard cheap approximation of a byte-pair tokenizer's output
    * length.
    */
  def subwordCount(text: Column): Column =
    size(filter(
      split(coalesce(text, lit("")),
        "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])"),
      // \S, not trim: trim strips only ASCII spaces, so a tab/newline piece
      // would count as a subword against this function's own contract
      c => c.rlike("\\S")))

  /** Bind `v` as a lambda variable so the generating expression is evaluated
    * ONCE per row. A higher-order function re-evaluates non-lambda
    * expressions inside its lambda for EVERY element — e.g. a shingle lambda
    * that slices `split(text)` directly re-runs the regex tokenizer once per
    * shingle (measured 4.2s → 0.3s on 260k shingles at sf0.1).
    */
  def bindOnce(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** k-shingles of an already-bound token array (no re-tokenization). */
  def shinglesOfTokens(t: Column, k: Int): Column =
    when(size(t) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(t) - k),
        i => array_join(slice(t, i + 1, lit(k)), " ")))

  /** Word k-shingles ("a b c" 2-shingles → ["a b","b c"]); fewer than k
    * tokens → empty array.
    */
  def shingles(text: Column, k: Int): Column =
    bindOnce(tokens(text)) { t => shinglesOfTokens(t, k) }

  /** Shingles of SEVERAL lengths in one pass: the text is tokenized once
    * and the per-length k-gram arrays concatenated — one scan where a
    * per-length loop would re-normalize and re-tokenize the corpus per
    * phrase length.
    */
  def shinglesMulti(text: Column, ks: Seq[Int]): Column =
    bindOnce(tokens(text)) { t =>
      concat(ks.map(k => shinglesOfTokens(t, k)): _*)
    }

  /** Distinct character n-grams of the lowercased text. */
  private[graft] def charNgrams(text: Column, n: Int): Column =
    bindOnce(lower(coalesce(text, lit("")))) { s =>
      when(length(s) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(sequence(lit(1), length(s) - (n - 1)),
          i => s.substr(i, lit(n)))))
    }

  /** Sorted-distinct-token fingerprint (md5 hex) — canonical document
    * fingerprint for exact near-dup keys (case/punct-normalized variant of
    * the classic "fingerprint" clustering key).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ").cast("binary"))

  /** Rolling (polynomial) hash of the token stream — order-sensitive
    * document fingerprint. Horner's rule modulo the Mersenne prime 2^31-1
    * over a 28-bit md5-prefix token hash: every step is engine-portable
    * (md5 + hex + modular arithmetic exist identically in any SQL engine),
    * so the value is verifiable against an independent oracle — unlike
    * xxhash64, whose seed/spec is Spark-specific.
    */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31L + conv(substring(md5(t.cast("binary")), 1, 7), 16, 10)
        .cast("long"), lit(2147483647L)))

  // --- language ID (n-gram/stopword heuristic) ---

  /** Tiny per-language stopword marker sets. Deliberately small and
    * deterministic: counts of high-frequency function words, the classic
    * cheap language-ID signal.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "mit"),
  )

  /** Number of tokens of `text` that are in `words`. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words: _*)))

  /** Heuristic language ID: the language with the most stopword hits;
    * "unk" when nothing matches.
    */
  def langId(text: Column): Column = {
    val hits = stopwords.toSeq.map { case (lang, ws) => (lang, stopwordHits(text, ws)) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldLeft(lit(null).cast("string")) { case (acc, (lang, h)) =>
      when(acc.isNotNull, acc).when(h > 0 && h === best, lit(lang)).otherwise(acc)
    } match { case c => coalesce(c, lit("unk")) }
  }

  /** Ratio of stopword tokens (any language) — a quality signal. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(stopwordHits(text, stopwords.values.flatten.toSeq).cast("double") / n)
  }

  /** Ratio of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column = {
    val s = coalesce(text, lit(""))
    when(length(s) === 0, lit(0.0))
      .otherwise((length(s) - length(regexp_replace(s, "[^A-Za-z0-9 ]", ""))).cast("double")
        / length(s))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
  }

  /** Fraction of word n-grams that repeat an earlier occurrence
    * (1 − distinct/total; empty/too-short text → 0). n = 1 measures
    * duplicate words. The repetition family of quality signals from the
    * published Gopher/MassiveText filtering heuristics (Rae et al. 2021):
    * high duplicate-n-gram fractions flag boilerplate and spam. Map-only
    * Column algebra — at 100 TB this is a per-row expression in the scan.
    */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val g = if (n == 1) tokens(text) else shingles(text, n)
    bindOnce(g)(arr => when(size(arr) > 0,
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
      .otherwise(lit(0.0)))
  }

  /** Fraction of the text's characters covered by the single most repeated
    * word n-gram — the "top n-gram" member of the Gopher/MassiveText
    * repetition family (Rae et al. 2021), complementing
    * [[duplicateNgramFraction]]: maximize `count(g) · chars(g)` over the
    * document's n-grams, divide by the text length. Occurrences overlap, so
    * heavily-repeated boilerplate can push the value past 1 — callers
    * threshold it, they don't sum it. Map-only higher-order-function
    * algebra (sort the grams, fold adjacent-equal runs: O(G log G) per row
    * — NOT the naive O(distinct·total) count-per-distinct-gram, which goes
    * quadratic on exactly the long repetitive documents this signal
    * exists to catch), no explode, no shuffle: at 100 TB this stays a
    * per-row expression in the scan, like the rest of the quality family.
    */
  def topNgramCharFraction(text: Column, n: Int): Column = {
    val len = length(coalesce(text, lit("")))
    bindOnce(if (n == 1) tokens(text) else shingles(text, n)) { arr =>
      val folded = aggregate(array_sort(arr),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, g) => {
          val run = when(g === st.getField("prev"), st.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(g.as("prev"), run.as("run"),
            greatest(st.getField("best"), run * length(g).cast("long")).as("best"))
        })
      when(len > 0 && size(arr) > 0,
        folded.getField("best").cast("double") / len.cast("double"))
        .otherwise(lit(0.0))
    }
  }

  /** Gopher-style document gate over the repetition/shape signals:
    * word count within [minWords, maxWords], mean word length within
    * [2, 12] characters, duplicate-bigram fraction ≤ maxDupBigram; null
    * text fails. Thresholds are parameters — corpora differ; defaults
    * follow the published heuristic shapes. One native walk per row
    * ([[GopherPasses]]), equal to [[Composed.gopherPasses]].
    */
  def gopherPasses(text: Column, minWords: Long = 10, maxWords: Long = 100000,
      maxDupBigram: Double = 0.9): Column =
    GraftShims.toColumn(GopherPasses(GraftShims.toExpression(text),
      minWords, maxWords, maxDupBigram))

  /** Rewrite `text` by replacing each character span in `spans` (an
    * `array<struct<s, e>>` of 0-based [s, e) CHAR offsets — the public
    * Dolma span-attribute model, where taggers emit offsets as DATA and
    * the rewrite happens later, possibly in a different job reading the
    * spans from a sidecar) with `token`. Pure column algebra: spans are
    * clamped to the text, empties dropped, the rest sorted and folded in
    * one pass — map-only, codegen-resident, no UDF.
    *
    * Overlap semantics: coverage is the UNION of the spans; a span that
    * extends coverage past the current cursor emits one `token`, a span
    * wholly inside already-covered text emits nothing (so N overlapping
    * spans merge into one covered region with one token per
    * coverage-extending span). Null text → ""; a NULL spans array (an
    * un-tagged doc after a left join against a spans sidecar) and spans
    * with a null bound (malformed tagger output) leave the text
    * UNCHANGED — they must never clamp to full extent (Spark's
    * `greatest`/`least` skip NULLs, so an unguarded null bound would
    * silently cover [0, length) and destroy the document).
    */
  def redactSpans(text: Column, spans: Column, token: String): Column = {
    val t = coalesce(text, lit(""))
    val wellFormed = filter(spans, sp =>
      sp.isNotNull && sp.getField("s").isNotNull && sp.getField("e").isNotNull)
    val clamped = transform(wellFormed, sp => struct(
      greatest(sp.getField("s").cast("int"), lit(0)).as("s"),
      least(sp.getField("e").cast("int"), length(t)).as("e")))
    val norm = array_sort(filter(
      coalesce(clamped, array().cast("array<struct<s:int,e:int>>")),
      sp => sp.getField("e") > sp.getField("s")))
    val folded = aggregate(norm,
      struct(lit(0).as("pos"), lit("").as("acc")),
      (st, sp) => {
        val pos = st.getField("pos")
        val acc = st.getField("acc")
        val s = sp.getField("s")
        val e = sp.getField("e")
        // e > pos ⇔ the span extends coverage: append the kept gap
        // [pos, max(s,pos)) and one token, advance the cursor to e.
        // Otherwise the span is inside covered text: nothing moves —
        // text is only ever consumed together with an append, so none
        // is lost
        struct(
          greatest(pos, e).as("pos"),
          when(e > pos,
            concat(acc, t.substr(pos + 1, greatest(s - pos, lit(0))),
              lit(token)))
            .otherwise(acc).as("acc"))
      },
      st => concat(st.getField("acc"),
        t.substr(st.getField("pos") + 1, length(t) - st.getField("pos"))))
    folded
  }

  /** [[redactSpans]] with an empty replacement — the span CUT (paragraph
    * dedup cuts, boilerplate removal, right-to-be-forgotten passages).
    */
  def cutSpans(text: Column, spans: Column): Column =
    redactSpans(text, spans, "")

  /** Redact common PII shapes (emails, IPv4s, phone-like digit runs) with
    * typed placeholder tokens — the standard scrubbing pass before a text
    * corpus leaves a pipeline. Regexes are written to the Java∩RE2 common
    * subset so an external engine (e.g. an audit query in DuckDB) computes
    * the identical result. Order matters: emails first (an address may
    * embed digits), then IPs, then the greedy phone pattern.
    */
  /** Every non-empty match of `pattern` as `array<struct<s,e>>` of
    * 0-based [s, e) code-point offsets — the tagger that feeds
    * [[redactSpans]]/[[cutSpans]], emitted as DATA (typically into an
    * [[graft.llm.Attributes]] sidecar) so re-curation never re-runs the
    * regex. Native codegen'd expression; see [[MatchSpans]].
    */
  def matchSpans(text: Column, pattern: String): Column =
    MatchSpans(text, pattern)

  /** The PII shapes of [[redactPii]] as ONE alternation (emails before
    * IPs before the greedy phone runs — alternation order encodes the
    * same priority the sequential replaces did). Both Java and RE2 match
    * alternations leftmost-FIRST, and the branches are written in the
    * Java∩RE2 common subset, so an external engine's `regexp_replace`
    * over this pattern equals span-redacting [[piiSpans]]' offsets —
    * which is exactly how the oracle checks the offsets.
    */
  val PiiPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" +
      "|\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" +
      "|\\+?\\d[\\d -]{7,}\\d"

  /** PII span TAGGER: where [[redactPii]] rewrites immediately, this
    * emits the offsets as data for the span-attribute model — tag once
    * into a sidecar, scrub (or not) at mix time with [[redactSpans]].
    */
  def piiSpans(text: Column): Column = matchSpans(text, PiiPattern)

  /** Code-point span offsets → UTF-8 BYTE offsets — export to external
    * span consumers that index raw bytes (Dolma attribute files, Rust/Go
    * tooling). One shared walk per row; see [[SpanUnits]].
    */
  def spansToBytes(text: Column, spans: Column): Column =
    SpanUnits(text, spans, "chars", "bytes")

  /** UTF-8 byte span offsets → CODE-POINT offsets — import sidecars from
    * external byte-indexing taggers into [[redactSpans]]/[[cutSpans]]'
    * native unit. Mid-sequence byte offsets round down; see [[SpanUnits]].
    */
  def spansToChars(text: Column, spans: Column): Column =
    SpanUnits(text, spans, "bytes", "chars")

  /** Code-point span offsets → UTF-16 unit offsets — export to JavaScript
    * (`indexOf`/`match`), Java `Matcher`, .NET consumers, which all index
    * UTF-16. See [[SpanUnits]].
    */
  def spansToUtf16(text: Column, spans: Column): Column =
    SpanUnits(text, spans, "chars", "utf16")

  /** UTF-16 span offsets → code-point offsets — import sidecars from
    * JS/JVM-regex taggers into the native unit. An offset between
    * surrogate halves rounds down; see [[SpanUnits]].
    */
  def spansFromUtf16(text: Column, spans: Column): Column =
    SpanUnits(text, spans, "utf16", "chars")

  /** Span offsets from any unit to any other (`"chars"`, `"bytes"`,
    * `"utf16"`); `from == to` is the identity. The two foreign-unit
    * pairs (bytes ↔ utf16) route through the same single-walk expression
    * twice via chars — still O(chars) per row.
    */
  def convertSpans(text: Column, spans: Column, from: String, to: String): Column =
    if (from == to) spans
    else if (from == "chars" || to == "chars") SpanUnits(text, spans, from, to)
    else SpanUnits(text, SpanUnits(text, spans, from, "chars"), "chars", to)

  /** For each span of `tokenSpans` (any `struct` with `s`/`e` int fields,
    * e.g. [[graft.llm.Bpe.encodeWithOffsets]]' tokens), whether it
    * OVERLAPS any span of `attrSpans` — `array<boolean>` aligned with
    * `tokenSpans`: the projection of character-space attribute spans onto
    * token space (loss masks, token drop masks). Overlap is the standard
    * half-open test `a.s < t.e && t.s < a.e`. A null `attrSpans` (an
    * untagged doc after a sidecar left join) and malformed members with
    * null bounds mask NOTHING — same tolerance as [[redactSpans]], and
    * for the same reason: a null must never widen to full extent.
    * O(tokens × attr spans) per row in one codegen'd map — attr span
    * lists are small (they tag shapes, not characters).
    */
  def spanOverlapMask(tokenSpans: Column, attrSpans: Column): Column = {
    val sp = coalesce(attrSpans, array().cast("array<struct<s:int,e:int>>"))
    transform(tokenSpans, tk => exists(sp, a =>
      a.isNotNull && a.getField("s").isNotNull && a.getField("e").isNotNull &&
        a.getField("s") < tk.getField("e") &&
        tk.getField("s") < a.getField("e")))
  }

  def redactPii(text: Column): Column = {
    val email = regexp_replace(coalesce(text, lit("")),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d -]{7,}\\d", "<PHONE>")
  }

  // --- C4-style heuristic page cleaning (Raffel et al. 2020, §2.2) ---

  /** C4 line keep rule: ends in terminal punctuation, has at least
    * `minWords` whitespace words, mentions neither "javascript" nor a curly
    * brace (the code/boilerplate markers of the published heuristic). Pure
    * Column algebra in the Java∩RE2 regex subset, so an external SQL engine
    * computes the identical keep set.
    */
  def c4KeepLine(line: Column, minWords: Int = 5): Column =
    line.rlike("[.!?\"]$") &&
      (size(split(trim(line), "\\s+")) >= minWords) &&
      !lower(line).contains("javascript") && !line.contains("{")

  /** Lines of `page` (newline-separated) surviving [[c4KeepLine]]; null
    * page → null. One native walk per row ([[C4KeptLines]]), equal to
    * [[Composed.c4KeptLines]].
    */
  def c4KeptLines(page: Column, minWords: Int = 5): Column =
    GraftShims.toColumn(C4KeptLines(GraftShims.toExpression(page), minWords))

  /** C4 page gate: no "lorem ipsum" anywhere, and at least `minKept`
    * surviving lines; null page fails. One native walk per row
    * ([[C4Passes]]), equal to [[Composed.c4Passes]] in a filter.
    */
  def c4Passes(page: Column, minKept: Int = 3, minWords: Int = 5): Column =
    GraftShims.toColumn(C4Passes(GraftShims.toExpression(page), minKept, minWords))

  /** The composed Column forms the native quality gates replace, kept as
    * the reference `QualityKernelSpec` pins the kernels equal to. They
    * evaluate their higher-order lambdas interpreted, row by row.
    */
  private[graft] object Composed {
    def c4KeptLines(page: Column, minWords: Int = 5): Column =
      filter(split(page, "\n"), l => c4KeepLine(l, minWords))

    def c4Passes(page: Column, minKept: Int = 3, minWords: Int = 5): Column =
      !lower(page).contains("lorem ipsum") &&
        (size(c4KeptLines(page, minWords)) >= minKept)

    def gopherPasses(text: Column, minWords: Long = 10, maxWords: Long = 100000,
        maxDupBigram: Double = 0.9): Column =
      tokenCount(text).between(minWords, maxWords) &&
        meanTokenLen(text).between(2.0, 12.0) &&
        (duplicateNgramFraction(text, 2) <= maxDupBigram)
  }

  /** Composite heuristic quality score in [0,1]: length saturation,
    * healthy mean word length, low punctuation noise, stopword presence —
    * the standard cheap pre-filter for LLM training corpora.
    */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val wordScore = when(meanTokenLen(text).between(3.0, 10.0), 1.0).otherwise(0.5)
    val punct     = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val stop      = least(stopwordRatio(text) * 5.0, lit(1.0))
    round(lenScore * 0.4 + wordScore * 0.2 + punct * 0.2 + stop * 0.2, 4)
  }

  // --- HTML → text extraction (the WET step of a web-crawl pipeline) ---
  //
  // Deliberately regex-based, not a DOM parse: at 100 TB the extraction
  // scan must stay a codegen'd map-only pass (RegExpReplace is codegen'd;
  // a tree parser would be a per-row UDF allocating a DOM), and the
  // regex semantics are restatable verbatim in an external SQL engine.
  // The patterns use only syntax shared by java.util.regex and RE2
  // (inline (?is) flags, lazy quantifiers; NO lookaround), so the same
  // strings run identically in Spark and DuckDB/Go-style engines.

  /** Visible text of an HTML page: drops `<script>`/`<style>` elements
    * and comments, strips all remaining tags, decodes the named HTML
    * entities (`&amp; &lt; &gt; &quot; &#39; &apos; &nbsp;` — `&amp;`
    * last, per the standard double-decode rule), and collapses
    * whitespace runs to single spaces. Numeric character references
    * beyond `&#39;` are out of scope (a per-match chr() is not
    * expressible as a codegen'd Column op); they survive literally.
    */
  def htmlToText(page: Column): Column = {
    val noScript = regexp_replace(page, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle  = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noCmt    = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags   = regexp_replace(noCmt, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&",
    ).foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** The page's `<title>` text (first match), whitespace-collapsed;
    * empty string when absent.
    */
  def htmlTitle(page: Column): Column =
    trim(regexp_replace(
      regexp_extract(page, "(?is)<title[^>]*>(.*?)</title>", 1),
      "[ \\t\\n\\r\\f]+", " "))

  /** Number of `href="…"` links — the numerator of the link-density
    * quality gate (boilerplate/nav pages are link-dense, prose is not).
    */
  def htmlLinkCount(page: Column): Column =
    size(regexp_extract_all(page, lit("(?is)href=\"([^\"]*)\""), lit(1)))

  // --- Main-content (boilerplate) extraction ------------------------------
  //
  // The readability/jusText step every web-scale corpus (C4, FineWeb,
  // Dolma) runs BEFORE quality filtering: htmlToText keeps nav bars,
  // cookie banners, and footers; htmlMainText segments the page into
  // blocks at block-level tags and keeps only blocks that read like
  // prose — long enough, and not link-dense. Same engineering stance as
  // htmlToText: regex + array algebra only (no DOM, no UDF), every
  // pattern in shared java-regex/RE2 syntax so an external SQL engine
  // replays it verbatim.

  /** Block-level tags whose open OR close tag ends one block and starts
    * the next (the jusText segmentation set; inline tags — a, b, span,
    * em, … — stay inside their block for link-density scoring).
    */
  val htmlBlockTagPattern: String =
    "(?i)</?(p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|td|th|tr|table|thead|tbody|" +
      "section|article|header|footer|nav|aside|main|blockquote|pre|form|" +
      "fieldset|hr|figure|figcaption|body|html|head|title)\\b[^>]*>"

  /** Raw HTML block fragments of a page: script/style/comment-stripped,
    * then split at block-level tags. Fragments still carry their inline
    * markup (needed to score link density); empty fragments survive and
    * are dropped by the caller's length gate.
    */
  def htmlBlocks(page: Column): Column = {
    val noScript = regexp_replace(page, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle  = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noCmt    = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // the 0x01 separator can't occur in real HTML text (a C0 control
    // char); DuckDB restates the split as string_split(…, chr(1))
    split(regexp_replace(noCmt, htmlBlockTagPattern, "\u0001"), "\u0001")
  }

  /** Visible text of one block FRAGMENT (no script/style/comment handling
    * — [[htmlBlocks]] already removed those): inline tags stripped, named
    * entities decoded (`&amp;` last), whitespace collapsed.
    */
  def htmlFragmentText(frag: Column): Column = {
    val noTags = regexp_replace(frag, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&",
    ).foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** Characters of anchor (`<a …>…</a>`) text inside one block fragment —
    * the link-density numerator, measured on the same decoded/collapsed
    * scale as the block text itself.
    */
  def htmlFragmentLinkChars(frag: Column): Column =
    aggregate(
      transform(
        regexp_extract_all(frag, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
        a => length(htmlFragmentText(a))),
      lit(0), (acc, n) => acc + n)

  /** Per-block score frame of a page: `array<struct<text, len, link_chars>>`
    * over the non-empty blocks — the statistic [[htmlMainText]] gates on,
    * exposed so pipelines (and the SQL oracle) can inspect the scoring.
    */
  def htmlBlockScores(page: Column): Column =
    filter(
      transform(htmlBlocks(page), b =>
        // bind the fragment text ONCE: HOF lambdas evaluate interpreted
        // (no codegen CSE), so `text` and `len` would otherwise each run
        // the full strip+decode+collapse chain per block
        bindOnce(htmlFragmentText(b)) { t =>
          struct(t.as("text"), length(t).as("len"),
            htmlFragmentLinkChars(b).as("link_chars"))
        }),
      s => s.getField("len") > 0)

  /** Main content of an HTML page: the non-boilerplate blocks joined by
    * newlines. A block survives iff its visible text has at least
    * `minLen` characters AND its link density (anchor-text chars /
    * text chars) is at most `maxLinkDensity` — the two-signal
    * readability/jusText core (nav/footer/cookie blocks are short or
    * link-dense; prose is neither). One codegen'd map-only pass at scale.
    */
  def htmlMainText(page: Column, minLen: Int = 30,
      maxLinkDensity: Double = 0.33): Column =
    array_join(
      transform(
        filter(htmlBlockScores(page), s =>
          s.getField("len") >= minLen &&
            s.getField("link_chars").cast("double") <=
              lit(maxLinkDensity) * s.getField("len").cast("double")),
        s => s.getField("text")),
      "\n")
}
