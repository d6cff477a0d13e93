package graft.text

import java.util.regex.Pattern

/** Token with character offsets into the original text: `text.substring(start, end)`
  * is the raw surface of the token (before normalization).
  */
final case class Tok(raw: String, norm: String, start: Int, end: Int)

/** A candidate span (token n-gram) with its normalized blocking key. */
final case class Span(key: String, nTokens: Int, start: Int, end: Int)

/** Pure-Scala text kernel of the engine. No Spark dependencies so it can be
  * used both inside typed `flatMap`s and registered as UDFs, and unit-tested
  * without a session.
  *
  * Semantics re-derived from the reference (cited file:line into
  * /root/reference):
  *  - BOW tokenizer: opentapioca/languagemodel.py:9-19 (separator regex split
  *    of `' '+phrase+' '`, unidecode each token, drop empties).
  *  - Surface analyzer: configsets/tapioca/conf/managed-schema:63-75
  *    (ClassicTokenizer -> EnglishPossessiveFilter -> ASCIIFoldingFilter,
  *    NO lowercasing).
  *  - Prune filter: opentapioca/tagger.py:32,79-89.
  */
object TextOps {

  // --------------------------------------------------------------------
  // ASCII folding / transliteration.
  // Frozen mapping for the Latin-1 Supplement + Latin Extended-A ranges
  // (the character inventory of our deterministic corpora). Two variants:
  // `unidecodeChar` drops unmapped non-ASCII (unidecode behavior,
  // languagemodel.py:16); `asciiFoldChar` keeps unmapped chars
  // (Lucene ASCIIFoldingFilter behavior).
  // --------------------------------------------------------------------
  private val foldTable: Map[Char, String] = {
    val m = Map.newBuilder[Char, String]
    def put(chars: String, to: String): Unit = chars.foreach(c => m += c -> to)
    put("ÀÁÂÃÄÅĀĂĄ", "A"); put("àáâãäåāăą", "a")
    put("ÇĆĈĊČ", "C"); put("çćĉċč", "c")
    put("ÐĎĐ", "D"); put("ďđ", "d")
    put("ÈÉÊËĒĔĖĘĚ", "E"); put("èéêëēĕėęě", "e")
    put("ĜĞĠĢ", "G"); put("ĝğġģ", "g")
    put("ĤĦ", "H"); put("ĥħ", "h")
    put("ÌÍÎÏĨĪĬĮİ", "I"); put("ìíîïĩīĭįı", "i")
    put("Ĵ", "J"); put("ĵ", "j")
    put("Ķ", "K"); put("ķĸ", "k")
    put("ĹĻĽĿŁ", "L"); put("ĺļľŀł", "l")
    put("ÑŃŅŇŊ", "N"); put("ñńņňŉŋ", "n")
    put("ÒÓÔÕÖØŌŎŐ", "O"); put("òóôõöøōŏő", "o")
    put("ŔŖŘ", "R"); put("ŕŗř", "r")
    put("ŚŜŞŠ", "S"); put("śŝşš", "s")
    put("ŢŤŦ", "T"); put("ţťŧ", "t")
    put("ÙÚÛÜŨŪŬŮŰŲ", "U"); put("ùúûüũūŭůűų", "u")
    put("Ŵ", "W"); put("ŵ", "w")
    put("ÝŶŸ", "Y"); put("ýÿŷ", "y")
    put("ŹŻŽ", "Z"); put("źżž", "z")
    put("Æ", "AE"); put("æ", "ae")
    put("Œ", "OE"); put("œ", "oe")
    put("ß", "ss"); put("Þ", "TH"); put("þ", "th")
    put("’‘‚‛", "'"); put("“”„‟", "\""); put("–—", "-")
    m.result()
  }

  /** unidecode-equivalent: non-ASCII chars are transliterated via the frozen
    * table or dropped (languagemodel.py:16). */
  def unidecode(s: String): String = {
    if (s.forall(_ < 128)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) sb.append(c) else sb.append(foldTable.getOrElse(c, ""))
      i += 1
    }
    sb.toString
  }

  /** Lucene ASCIIFoldingFilter-equivalent: unmapped non-ASCII kept as-is. */
  def asciiFold(s: String): String = {
    if (s.forall(_ < 128)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) sb.append(c)
      else sb.append(foldTable.getOrElse(c, c.toString))
      i += 1
    }
    sb.toString
  }

  // --------------------------------------------------------------------
  // BOW tokenizer (languagemodel.py:9-19).
  // separator = optional closing punct, a space, optional opening punct.
  // --------------------------------------------------------------------
  private val bowSep = Pattern.compile("[,\\-_/:;!?)]? [,\\-_/:;!?(]?")

  def bowTokenize(phrase: String): List[String] =
    bowSep
      .split(" " + phrase + " ", -1)
      .iterator
      .map(w => unidecode(w.trim))
      .filter(_.nonEmpty)
      .toList

  // --------------------------------------------------------------------
  // Surface tokenizer with offsets (ClassicTokenizer approximation for our
  // character inventory: alphanumeric runs, internal apostrophes/periods
  // kept inside a token). Offsets always point into the ORIGINAL text.
  // --------------------------------------------------------------------
  private val tokenRe = Pattern.compile("[\\p{L}\\p{N}]+(?:['’.][\\p{L}\\p{N}]+)*")

  /** EnglishPossessiveFilter: strip a trailing 's / ’s (managed-schema:66). */
  def stripPossessive(tok: String): String =
    if (tok.length > 2 && (tok.endsWith("'s") || tok.endsWith("’s")))
      tok.substring(0, tok.length - 2)
    else tok

  /** Analyzer chain for one token: possessive strip then ASCII fold.
    * NOTE: no lowercasing — the `tapioca` configset is case-sensitive
    * (managed-schema:63-75). */
  def normToken(tok: String): String = asciiFold(stripPossessive(tok))

  def tokenizeWithOffsets(text: String): IndexedSeq[Tok] = {
    val out = IndexedSeq.newBuilder[Tok]
    val m = tokenRe.matcher(text)
    while (m.find()) {
      val raw = m.group()
      out += Tok(raw, normToken(raw), m.start(), m.end())
    }
    out.result()
  }

  // --------------------------------------------------------------------
  // Analyzer VARIANTS (the reference ships three Solr configsets with
  // different `tag` analyzers):
  //  - "tapioca"      Classic -> possessive -> fold, case-SENSITIVE
  //                   (configsets/tapioca/conf/managed-schema:63-75)
  //  - "affiliations" Standard -> possessive -> fold -> LOWERCASE
  //                   (configsets/affiliations/conf/managed-schema:63-77)
  //  - "twitter"      Twitter tokenizer (@mention/#hashtag kept as one
  //                   token) -> lowercase -> possessive -> fold
  //                   (configsets/twitter/conf/managed-schema:63-78; the
  //                   upstream tokenizer ships only as a binary
  //                   lucene-twitter jar, so this is a documented
  //                   deterministic approximation of its behavior)
  // --------------------------------------------------------------------
  private val twitterTokenRe =
    Pattern.compile("[@#]?[\\p{L}\\p{N}_]+(?:['’.][\\p{L}\\p{N}_]+)*")

  def normTokenFor(analyzer: String, tok: String): String = analyzer match {
    case "tapioca" => normToken(tok)
    case "affiliations" => asciiFold(stripPossessive(tok)).toLowerCase
    case "twitter" => asciiFold(stripPossessive(tok.toLowerCase))
    case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }

  def tokenizeWithOffsetsFor(analyzer: String, text: String): IndexedSeq[Tok] = {
    if (analyzer == "tapioca" || analyzer == "affiliations") {
      val m = tokenRe.matcher(text)
      val out = IndexedSeq.newBuilder[Tok]
      while (m.find()) {
        val raw = m.group()
        out += Tok(raw, normTokenFor(analyzer, raw), m.start(), m.end())
      }
      out.result()
    } else {
      val m = twitterTokenRe.matcher(text)
      val out = IndexedSeq.newBuilder[Tok]
      while (m.find()) {
        val raw = m.group()
        out += Tok(raw, normTokenFor(analyzer, raw), m.start(), m.end())
      }
      out.result()
    }
  }

  /** All token n-grams (1..maxN) as candidate spans; blocking keys are
    * normalized tokens joined by a single space. This is the Spark-side
    * replacement for the Solr FST dictionary automaton
    * (managed-schema:63-68): candidate generation is local per document
    * (no shuffle), and the dictionary match is an equi-join on `key`.
    * `maxN` is the max token length over all dictionary phrases, computed
    * at dictionary-build time, which bounds the n-gram explosion. */
  def ngramSpans(text: String, maxN: Int): IndexedSeq[Span] =
    ngramSpansFor("tapioca", text, maxN)

  /** ngramSpans under a specific configset analyzer chain (the profile's
    * `solrconfig` drives this end-to-end: an affiliations-profile
    * dictionary matches case-insensitively).
    *
    * `firstTokenOk` (null = no filter) is the FST-equivalence prefilter:
    * Solr's dictionary automaton (managed-schema:63-68) dies on the FIRST
    * arc when no dictionary phrase starts with the current token, so the
    * tagger never materializes longer n-grams there. Emitting n-grams only
    * at positions whose first normalized token can possibly start a
    * dictionary key cuts the span stream from maxN x corpus-tokens to
    * maxN x matching-positions; the dictionary equi-join result is
    * unchanged by construction (every dropped span had no key to match). */
  def ngramSpansFor(analyzer: String, text: String, maxN: Int,
      firstTokenOk: String => Boolean = null): IndexedSeq[Span] = {
    val toks = tokenizeWithOffsetsFor(analyzer, text)
    val out = IndexedSeq.newBuilder[Span]
    var i = 0
    while (i < toks.length) {
      if (firstTokenOk == null || firstTokenOk(toks(i).norm)) {
        val sb = new StringBuilder()
        var n = 1
        while (n <= maxN && i + n <= toks.length) {
          if (n > 1) sb.append(' ')
          sb.append(toks(i + n - 1).norm)
          out += Span(sb.toString, n, toks(i).start, toks(i + n - 1).end)
          n += 1
        }
      }
      i += 1
    }
    out.result()
  }

  // --------------------------------------------------------------------
  // Mention prune filter (tagger.py:32,79-89): drop a phrase iff it matches
  // ^(\w\w?|[\d ]{0,4})$ (Python {,4} == {0,4}) AND it is all-lowercase.
  // Python \w is unicode; (?U) gives Java the same semantics.
  // --------------------------------------------------------------------
  private val pruneRe = Pattern.compile("(?U)^(\\w\\w?|[\\d ]{0,4})$")

  def prunePhrase(phrase: String): Boolean =
    // the regex can only match strings of length <= 4; short-circuit before
    // paying a Matcher allocation + toLowerCase copy per span (this runs
    // once per surviving span in the fused hot path)
    phrase.length <= 4 &&
      pruneRe.matcher(phrase).matches() && phrase == phrase.toLowerCase
}
