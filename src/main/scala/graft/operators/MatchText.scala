package graft.operators

import graft.functions.TextFunctions
import graft.sources.ParquetFooter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text `MATCH` (reference:
  * `server/src/main/java/io/crate/expression/predicate/MatchPredicate.java:85`
  * backed by Lucene BM25). Spark-first rebuild in two tiers:
  *
  *  1. [[matchPredicate]] — row-local predicate: all/any query terms appear
  *     in the column (best_fields-ish boolean semantics). Native expressions.
  *  2. [[buildIndex]] / [[search]] / [[searchBM25]] — distributed inverted
  *     index with ALL global statistics (doc lengths, avgdl, nDocs, per-term
  *     document frequency) computed ONCE at build time. A search is then a
  *     pure join of the (tiny, broadcast) query-term set against the matched
  *     postings — no full-index aggregation and no driver action per query,
  *     which is what makes repeated searches viable over a 100 TB index.
  *  3. [[buildFieldedIndex]] / [[searchFielded]] — multi-column MATCH with
  *     per-field boosts and `best_fields` / `most_fields` combination
  *     (reference `MatchPredicate.java:85`, `docs/general/dql/fulltext.rst`).
  */
object MatchText {

  /** Built index bundles in [[graft.Memo]], keyed by (session, data dir or
    * table path, index name). An index is built ONCE per dataset and
    * reused by every subsequent search — the reference likewise separates
    * index construction (a DDL-time cost) from query cost. The bench/verify
    * harnesses clear this between queries so a bundle never outlives the
    * query that built it (its persisted DataFrames are unpersisted by the
    * harness's storage cleanup; entries here are just references). */
  object IndexCache {
    def cached[T](spark: SparkSession, key: String)(build: => T): T =
      graft.Memo(spark, s"index#$key")(build)
    def clear(): Unit = graft.Memo.invalidate(_.startsWith("index#"))
  }

  /** Per-index analyzer chain (reference
    * `analyze/CreateAnalyzerStatementAnalyzer.java` / `FulltextIndexer.java`:
    * CrateDB exposes tokenizer + token-filter options per fulltext index).
    * Entirely native Column expressions — the chain compiles into the same
    * one-pass projection as the default tokenizer:
    *
    *  - `stopwords`: dropped after tokenization (e.g. the English set)
    *  - `minTokenLength`: shorter tokens dropped
    *  - `sStem`: minimal English s-stemmer (Harman 1991 "How effective is
    *    suffixing?"): -sses→-ss, -ies→-i, trailing -s dropped unless the
    *    token ends in -ss/-us/-is. Cheap, deterministic and SQL-replayable —
    *    the property the oracle check needs; a full Porter stemmer would be
    *    a UDF and untestable against DuckDB.
    */
  /** One char-filter step, applied to the raw text before tokenization
    * (reference `CREATE ANALYZER … CHAR_FILTERS`, builtin set in
    * `docs/general/ddl/fulltext-indices.rst`): `html_strip`, `mapping`
    * (literal `from=>to` rewrites, applied in order), `pattern_replace`. */
  final case class CharFilter(kind: String,
                              mappings: Seq[String] = Nil,
                              pattern: String = "", replacement: String = "") {
    def apply(text: Column): Column = kind match {
      case "html_strip" => regexp_replace(text, "<[^>]*>", " ")
      case "mapping" =>
        mappings.foldLeft(text) { (acc, m) =>
          val Array(from, to) = m.split("=>", 2).map(_.trim)
          replace(acc, lit(from), lit(to))
        }
      case "pattern_replace" => regexp_replace(text, pattern, replacement)
      // Lucene CJKWidthFilter: fullwidth ASCII → halfwidth, halfwidth
      // katakana → fullwidth (the cjk analyzer's first filter)
      case "cjk_width" =>
        translate(text, MatchText.widthFrom, MatchText.widthTo)
      // dictionary word segmentation via the platform BreakIterator
      // (JDK ships the same ICU-derived Thai dictionary Lucene's
      // ThaiTokenizer uses); Column form rides a UDF — the porterUdf
      // precedent — while the FUSED kernel path stays native
      case "thai_words" => MatchText.thaiSegUdf(text)
      case other => throw new IllegalArgumentException(s"unknown char filter: $other")
    }
    def apply(s: String): String = kind match {
      case "html_strip" => s.replaceAll("<[^>]*>", " ")
      case "mapping" =>
        mappings.foldLeft(s) { (acc, m) =>
          val Array(from, to) = m.split("=>", 2).map(_.trim)
          acc.replace(from, to)
        }
      case "pattern_replace" => s.replaceAll(pattern, replacement)
      case "cjk_width" => s.map { c =>
        val i = MatchText.widthFrom.indexOf(c)
        if (i >= 0) MatchText.widthTo(i) else c
      }.mkString
      case "thai_words" => MatchText.thaiSegmentStr(s)
      case other => throw new IllegalArgumentException(s"unknown char filter: $other")
    }
  }

  /** Word-boundary spacing via the platform's dictionary-based Thai
    * break iterator (the JDK bundles the ICU-derived Thai dictionary —
    * the same lineage as Lucene's ThaiTokenizer): every break-iterator
    * word boundary becomes a space, so the standard tokenizer downstream
    * sees segmented words. BreakIterator instances are not thread-safe —
    * one per executor thread. */
  private val thaiBreaker =
    new ThreadLocal[java.text.BreakIterator] {
      override def initialValue(): java.text.BreakIterator =
        java.text.BreakIterator.getWordInstance(new java.util.Locale("th"))
    }
  private[operators] def thaiSegmentStr(s: String): String = {
    if (s == null || s.isEmpty) return s
    val bi = thaiBreaker.get()
    bi.setText(s)
    val sb = new StringBuilder
    var start = bi.first()
    var end = bi.next()
    while (end != java.text.BreakIterator.DONE) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(s.substring(start, end))
      start = end
      end = bi.next()
    }
    sb.toString
  }
  private[operators] val thaiSegUdf =
    udf((s: String) => if (s == null) null else thaiSegmentStr(s))

  /** CJKWidthFilter tables: fullwidth ASCII (U+FF01–U+FF5E) folds to the
    * ASCII range (offset −0xFEE0, incl. the ideographic space), and the
    * basic halfwidth katakana block (U+FF66–U+FF9D) folds to its
    * fullwidth forms. Combining voiced-sound marks are not re-composed —
    * documented approximation of Lucene's full mapping. */
  private[operators] val (widthFrom, widthTo): (String, String) = {
    val fwAscii = (0xFF01 to 0xFF5E).map(_.toChar).mkString + "　"
    val ascii = (0x21 to 0x7E).map(_.toChar).mkString + " "
    val hwKata = "ｦｧｨｩｪｫｬｭｮｯｰｱｲｳｴｵｶｷｸｹｺｻｼｽｾｿﾀﾁﾂﾃﾄﾅﾆﾇﾈﾉﾊﾋﾌﾍﾎﾏﾐﾑﾒﾓﾔﾕﾖﾗﾘﾙﾚﾛﾜﾝ"
    val fwKata = "ヲァィゥェォャュョッーアイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホマミムメモヤユヨラリルレロワン"
    (fwAscii + hwKata, ascii + fwKata)
  }

  // ASCII-folding table (Lucene ASCIIFoldingFilter's role): common Latin
  // diacritics to their base letters; ß/æ/œ expand to two letters. Applied
  // post-lowercasing, so only lowercase mappings are needed.
  private val foldPairs: Seq[(String, Char)] = Seq(
    ("àáâãäåāăą", 'a'), ("èéêëēĕėęě", 'e'), ("ìíîïĩīĭį", 'i'),
    ("òóôõöøōŏő", 'o'), ("ùúûüũūŭůűų", 'u'), ("ñń", 'n'), ("çćč", 'c'),
    ("ýÿ", 'y'), ("žźż", 'z'), ("šśş", 's'), ("ğ", 'g'), ("đď", 'd'),
    ("ťţ", 't'), ("ř", 'r'), ("ł", 'l'))
  private val foldFrom = foldPairs.map(_._1).mkString
  private val foldTo = foldPairs.map(p => p._2.toString * p._1.length).mkString
  private def asciiFoldCol(t: Column): Column =
    translate(regexp_replace(regexp_replace(regexp_replace(
      t, "ß", "ss"), "æ", "ae"), "œ", "oe"), foldFrom, foldTo)
  private def asciiFoldStr(s: String): String = {
    val pre = s.replace("ß", "ss").replace("æ", "ae").replace("œ", "oe")
    pre.map { c =>
      val i = foldFrom.indexOf(c)
      if (i >= 0) foldTo(i) else c
    }.mkString
  }

  /** Char class of the scripts Lucene's CJKBigramFilter bigrams by
    * default (HAN incl. ext-A, HIRAGANA, KATAKANA, HANGUL syllables). */
  private[operators] val cjkClass: String =
    "[\\u3040-\\u30FF\\u3400-\\u4DBF\\u4E00-\\u9FFF\\uAC00-\\uD7AF]"

  /** Per-script ids for the CJKBigramFilter flags: 1 = hiragana,
    * 2 = katakana, 3 = han, 4 = hangul, 0 = everything else. */
  private[operators] def cjkScriptOf(c: Char): Int =
    if (c >= 0x3040 && c <= 0x309F) 1
    else if (c >= 0x30A0 && c <= 0x30FF) 2
    else if ((c >= 0x3400 && c <= 0x4DBF) || (c >= 0x4E00 && c <= 0x9FFF)) 3
    else if (c >= 0xAC00 && c <= 0xD7AF) 4
    else 0
  private[graft] val cjkScriptIds: Map[String, Int] =
    Map("hiragana" -> 1, "katakana" -> 2, "han" -> 3, "hangul" -> 4)
  private[operators] val cjkScriptRange: Map[Int, String] = Map(
    1 -> "\\u3040-\\u309F", 2 -> "\\u30A0-\\u30FF",
    3 -> "\\u3400-\\u4DBF\\u4E00-\\u9FFF", 4 -> "\\uAC00-\\uD7AF")

  /** One token → script-homogeneous segments; CJK runs of n≥2 chars emit
    * n-1 overlapping bigrams, a lone CJK char stays a unigram, non-CJK
    * runs pass through unchanged.
    *
    * `ignored` (Lucene CJKBigramFilter's per-script han/hiragana/
    * katakana/hangul toggles, surfaced as the ES-shaped
    * `ignored_scripts` option) exempts scripts from bigramming: ignored
    * han/hiragana emit ONE TOKEN PER CHAR (what Lucene's
    * StandardTokenizer hands the filter for those scripts — the filter
    * passes them through untouched), while ignored katakana/hangul pass
    * as whole runs (the tokenizer's KATAKANA/ALetter run rules). Runs of
    * different enabled scripts bigram ACROSS the boundary, matching
    * Lucene. `outputUnigrams` additionally emits each enabled-script
    * char as a unigram after its segment's bigrams (bag-of-terms
    * equivalent of Lucene's interleaved positions). */
  private[operators] def cjkExpand(tok: String, ignored: Set[Int] = Set.empty,
                                   outputUnigrams: Boolean = false): Seq[String] = {
    def cls(c: Char): Int = {
      val s = cjkScriptOf(c)
      if (s == 0) 0
      else if (!ignored(s)) 1
      else if (s == 1 || s == 3) 2 // ignored hiragana/han → per-char
      else 3                       // ignored katakana/hangul → whole run
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < tok.length) {
      val k = cls(tok(i))
      var j = i + 1
      while (j < tok.length && cls(tok(j)) == k) j += 1
      val seg = tok.substring(i, j)
      k match {
        case 1 if seg.length >= 2 =>
          var p = 0
          while (p < seg.length - 1) { out += seg.substring(p, p + 2); p += 1 }
          if (outputUnigrams) seg.foreach(c => out += c.toString)
        case 2 => seg.foreach(c => out += c.toString)
        case _ => out += seg
      }
      i = j
    }
    out.toSeq
  }

  /** One token → Han chars as single-char tokens (the Unicode
    * word-segmentation IDEOGRAPHIC rule — what the reference's standard
    * tokenizer emits for Chinese); kana/hangul runs and non-CJK segments
    * stay whole. The `chinese` analyzer type's tokenization. */
  private def isHanChar(c: Char): Boolean =
    (c >= 0x3400 && c <= 0x4DBF) || (c >= 0x4E00 && c <= 0x9FFF)
  private[operators] def cjkExpandUnigram(tok: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < tok.length) {
      val han = isHanChar(tok(i))
      var j = i + 1
      while (j < tok.length && isHanChar(tok(j)) == han) j += 1
      if (han) tok.substring(i, j).foreach(c => out += c.toString)
      else out += tok.substring(i, j)
      i = j
    }
    out.toSeq
  }

  /** Wave-4 light-stemmer rule tables (reference bundles the full Lucene
    * language-analyzer set, ddl/analyzers.rst `type='<language>'` list):
    * per-language character normalization + ordered prefix/suffix strip
    * rules — (affix, minimum token length to strip at). ONE data-driven
    * engine serves every language, the Column and driver forms replaying
    * identical rule order, so each chain stays SQL-replayable by the
    * DuckDB oracles. Deliberately light (the s-stemmer stance): these
    * approximate Lucene's snowball/light stemmers, documented as such. */
  final case class LightRules(normFrom: String = "", normTo: String = "",
                              prefixes: Seq[(String, Int)] = Nil,
                              suffixes: Seq[(String, Int)] = Nil)

  private[graft] val lightRules: Map[String, LightRules] = Map(
    // arabic: strip diacritics+tatweel, fold alef/ya/taa-marbuta variants;
    // definite-article prefixes; plural/feminine suffixes
    // (mapped folds FIRST, then delete-only chars — translate removes
    // from-chars beyond the to-string)
    "ar" -> LightRules(
      normFrom = "أإآىة" + "ًٌٍَُِّْـ",
      normTo = "ااايه",
      prefixes = Seq(("وال", 5), ("بال", 5), ("كال", 5), ("فال", 5),
        ("ال", 4), ("لل", 4)),
      suffixes = Seq(("ها", 4), ("ان", 4), ("ات", 4), ("ون", 4), ("ين", 4),
        ("ية", 4), ("ه", 4), ("ي", 4))),
    // turkish: agglutinative case/plural/possessive endings, longest first
    "tr" -> LightRules(suffixes = Seq(
      ("larından", 10), ("lerinden", 10), ("larında", 9), ("lerinde", 9),
      ("ların", 7), ("lerin", 7), ("lardan", 8), ("lerden", 8),
      ("larda", 7), ("lerde", 7), ("ları", 6), ("leri", 6),
      ("lar", 5), ("ler", 5), ("nın", 5), ("nin", 5), ("nun", 5), ("nün", 5),
      ("dan", 5), ("den", 5), ("tan", 5), ("ten", 5),
      ("da", 4), ("de", 4), ("ta", 4), ("te", 4),
      ("ın", 4), ("in", 4), ("un", 4), ("ün", 4),
      ("ı", 3), ("i", 3), ("u", 3), ("ü", 3))),
    // greek: final-sigma fold, then nominal case endings
    "el" -> LightRules(normFrom = "ς", normTo = "σ", suffixes = Seq(
      ("ματα", 6), ("ματοσ", 7), ("οσ", 4), ("εσ", 4), ("ων", 4), ("ου", 4),
      ("ησ", 4), ("ασ", 4), ("οι", 4), ("αι", 4),
      ("α", 3), ("η", 3), ("ο", 3), ("ι", 3), ("ε", 3))),
    // hindi: plural/oblique matras and postposition fusions
    "hi" -> LightRules(suffixes = Seq(
      ("ियों", 5), ("ाओं", 5), ("ाएं", 5), ("ओं", 4), ("ों", 4), ("ें", 4),
      ("ीं", 4), ("ाँ", 4), ("ां", 4), ("ी", 3), ("े", 3), ("ा", 3),
      ("ू", 3), ("ु", 3))),
    // czech: nominal case endings
    "cs" -> LightRules(suffixes = Seq(
      ("ových", 7), ("ové", 5), ("ech", 5), ("ích", 5), ("ami", 5),
      ("emi", 5), ("ých", 5), ("ům", 4), ("ám", 4), ("ou", 4),
      ("ů", 3), ("y", 3), ("i", 3), ("e", 3), ("a", 3), ("o", 3),
      ("u", 3), ("í", 3))),
    // hungarian: case/plural endings, longest first
    "hu" -> LightRules(suffixes = Seq(
      ("okban", 7), ("ekben", 7), ("oknak", 7), ("eknek", 7),
      ("okat", 6), ("eket", 6), ("akat", 6),
      ("ban", 5), ("ben", 5), ("nak", 5), ("nek", 5), ("val", 5), ("vel", 5),
      ("ok", 4), ("ek", 4), ("ak", 4), ("ot", 4), ("et", 4), ("at", 4),
      ("t", 4), ("k", 4))),
    // indonesian: voice/derivation prefixes + common suffixes
    "id" -> LightRules(
      prefixes = Seq(("meng", 6), ("meny", 6), ("mem", 5), ("men", 5),
        ("ber", 5), ("ter", 5), ("me", 4), ("di", 4), ("pe", 4)),
      suffixes = Seq(("kan", 5), ("nya", 5), ("an", 4), ("i", 3))),
    // romanian: definite-article and plural endings
    "ro" -> LightRules(suffixes = Seq(
      ("urile", 7), ("ului", 6), ("ilor", 6), ("elor", 6), ("uri", 5),
      ("ele", 5), ("ea", 4), ("ul", 4), ("le", 4), ("ii", 4),
      ("i", 3), ("e", 3), ("ă", 3), ("a", 3))),
    // bulgarian: definite-article and plural endings
    "bg" -> LightRules(suffixes = Seq(
      ("ите", 5), ("ята", 5), ("та", 4), ("то", 4), ("те", 4), ("ът", 4),
      ("ия", 4), ("и", 3), ("а", 3), ("я", 3), ("о", 3), ("е", 3))),
    // catalan: -ció family and plurals
    "ca" -> LightRules(suffixes = Seq(
      ("cions", 7), ("ció", 5), ("es", 4), ("s", 3))),
    // galician: -ción/-cións and plurals
    "gl" -> LightRules(suffixes = Seq(
      ("cións", 7), ("ción", 6), ("ns", 4), ("es", 4), ("s", 3))),
    // latvian / lithuanian: nominal case endings
    "lv" -> LightRules(suffixes = Seq(
      ("iem", 5), ("ām", 4), ("as", 4), ("us", 4), ("is", 4), ("es", 4),
      ("os", 4), ("a", 3), ("s", 3), ("i", 3), ("u", 3), ("e", 3))),
    "lt" -> LightRules(suffixes = Seq(
      ("iams", 6), ("ams", 5), ("oms", 5), ("ais", 5), ("iai", 5),
      ("ai", 4), ("as", 4), ("is", 4), ("os", 4), ("us", 4),
      ("ų", 3), ("ą", 3), ("į", 3), ("a", 3), ("s", 3), ("i", 3),
      ("o", 3), ("u", 3), ("e", 3))),
    // armenian: plural/definite endings
    "hy" -> LightRules(suffixes = Seq(
      ("ները", 6), ("ների", 6), ("երը", 5), ("երի", 5), ("ներ", 5),
      ("եր", 4), ("ը", 3), ("ի", 3), ("ն", 3))),
    // basque: locative/genitive/determiner endings
    "eu" -> LightRules(suffixes = Seq(
      ("etako", 7), ("aren", 6), ("etan", 6), ("ak", 4), ("ek", 4),
      ("en", 4), ("an", 4), ("a", 3))),
    // bengali: plural/case endings
    "bn" -> LightRules(suffixes = Seq(
      ("গুলো", 5), ("গুলি", 5), ("দের", 4), ("েরা", 4), ("ের", 3), ("রা", 3),
      ("টা", 3), ("টি", 3))),
    // persian: arabic-script folds (Lucene's PersianAnalyzer normalizes,
    // it does NOT stem)
    "fa" -> LightRules(
      normFrom = "يكـ", normTo = "یک"),
    // sorani kurdish: normalization + definite/indefinite endings
    "ckb" -> LightRules(
      normFrom = "ـ", normTo = "",
      suffixes = Seq(("ەکان", 6), ("ەکە", 5), ("ان", 4), ("ێک", 4), ("ە", 3)))
  )

  private def translateLight(s: String, from: String, to: String): String =
    s.map { c =>
      val i = from.indexOf(c)
      if (i < 0) c.toString else if (i < to.length) to(i).toString else ""
    }.mkString

  private[graft] def lightStemStr(code: String)(s0: String): String = {
    val r = lightRules(code)
    val s1 = if (r.normFrom.isEmpty) s0
             else translateLight(s0, r.normFrom, r.normTo)
    val s2 = r.prefixes.collectFirst {
      case (pre, minL) if s1.length >= minL && s1.startsWith(pre) =>
        s1.substring(pre.length)
    }.getOrElse(s1)
    r.suffixes.collectFirst {
      case (suf, minL) if s2.length >= minL && s2.endsWith(suf) =>
        s2.dropRight(suf.length)
    }.getOrElse(s2)
  }

  private[graft] def lightStemCol(code: String)(t0: Column): Column = {
    val r = lightRules(code)
    val t = if (r.normFrom.isEmpty) t0 else translate(t0, r.normFrom, r.normTo)
    val afterPre = r.prefixes match {
      case Seq() => t
      case (p0, m0) +: rest =>
        def strip(n: Int) = t.substr(lit(n + 1), length(t))
        rest.foldLeft(
          when(length(t) >= m0 && t.startsWith(p0), strip(p0.length))) {
          case (w, (p, m)) =>
            w.when(length(t) >= m && t.startsWith(p), strip(p.length))
        }.otherwise(t)
    }
    r.suffixes match {
      case Seq() => afterPre
      case (s0, m0) +: rest =>
        rest.foldLeft(
          when(length(afterPre) >= m0 && afterPre.endsWith(s0),
            dropRight(afterPre, s0.length))) {
          case (w, (s, m)) =>
            w.when(length(afterPre) >= m && afterPre.endsWith(s),
              dropRight(afterPre, s.length))
        }.otherwise(afterPre)
    }
  }

  final case class Analyzer(stopwords: Seq[String] = Nil,
                            minTokenLength: Int = 1,
                            sStem: Boolean = false,
                            porter: Boolean = false,
                            tokenizer: String = "standard",
                            lowercase: Boolean = true,
                            maxTokenLength: Int = 0,
                            charFilters: Seq[CharFilter] = Nil,
                            minimalStem: String = "",
                            asciifold: Boolean = false,
                            edgeNgram: (Int, Int) = (0, 0),
                            shingle: (Int, Int) = (0, 0),
                            cjkBigram: Boolean = false,
                            cjkUnigram: Boolean = false,
                            cjkIgnored: Seq[String] = Nil,
                            cjkOutputUnigrams: Boolean = false) {
    /** The per-script toggle set ([[MatchText.cjkScriptIds]] keys). */
    private def cjkIgnoredIds: Set[Int] =
      cjkIgnored.map(s => MatchText.cjkScriptIds.getOrElse(s.toLowerCase,
        throw new IllegalArgumentException(
          s"unknown cjk_bigram script: $s"))).toSet
    private def splitPattern: String = tokenizer match {
      // \p{M}: combining marks (Devanagari/Bengali matras, Thai vowel
      // signs, Arabic diacritics) stay attached to their base letters —
      // Lucene's UAX#29 segmentation does the same; without it Indic
      // words shatter at every matra
      case "standard"               => "[^\\p{L}\\p{N}\\p{M}]+"
      case "whitespace"             => "\\s+"
      case "letter" | "lowercase"   => "[^\\p{L}]+"
      case "keyword"                => ""
      case other => throw new IllegalArgumentException(s"unknown tokenizer: $other")
    }
    private def lowered = lowercase || tokenizer == "lowercase"

    /** The analyzer as a Column: since round 5 this is ONE fused
      * codegen'd kernel call ([[graft.plans.AnalyzerChainExpr]] wrapping
      * [[tokens]]), not the compositional higher-order-function chain —
      * which survives as [[columnsChain]] and is pinned equal to the
      * fused path by MatchTextSpec. One kernel call per row keeps the
      * token list local until the final array; the old chain paid an
      * interpreted lambda + intermediate array per step (5-8 steps for a
      * gram-producing analyzer — the q205-shaped cost). */
    def apply(text: Column): Column = {
      val spark = org.apache.spark.sql.SparkSession.active
      MatchText.registerAnalyzeFn(spark)
      org.apache.spark.sql.functions.call_function("graft_analyze",
        text, org.apache.spark.sql.functions.lit(AnalyzerInterner.intern(this)))
    }

    /** The pre-round-5 compositional Column chain — kept as the
      * differential-testing twin of the fused path (MatchTextSpec
      * asserts agreement) and as the fallback shape documentation. */
    def columnsChain(text: Column): Column = {
      val filtered = charFilters.foldLeft(text)((acc, f) => f(acc))
      val cased = if (lowered) lower(filtered) else filtered
      var toks =
        if (tokenizer == "keyword") array(cased)
        else filter(split(cased, splitPattern), t => length(t) > 0)
      if (asciifold) toks = transform(toks, asciiFoldCol(_))
      if (cjkBigram) {
        // Lucene CJKBigramFilter order: each token re-segments into
        // script-CLASS-homogeneous runs; enabled-script CJK runs of n≥2
        // chars emit n-1 overlapping bigrams (a lone ideograph stays a
        // unigram), ignored hiragana/han runs emit one token per char,
        // ignored katakana/hangul and non-CJK runs pass through whole --
        // mirroring [[MatchText.cjkExpand]] exactly (the fused kernel and
        // this chain are differential-tested equal)
        val ignoredIds = cjkIgnoredIds
        def clsOf(ids: Seq[Int]): String =
          if (ids.isEmpty) "" else
            ids.sorted.map(MatchText.cjkScriptRange).mkString("[", "", "]")
        val eCls = clsOf((1 to 4).filterNot(ignoredIds))
        val pCls = clsOf(ignoredIds.intersect(Set(1, 3)).toSeq)
        val rCls = clsOf(ignoredIds.intersect(Set(2, 4)).toSeq)
        val uniFlag = cjkOutputUnigrams
        toks = flatten(transform(toks, t => {
          val marked = Seq(eCls, pCls, rCls).filter(_.nonEmpty)
            .foldLeft(t)((acc, c) =>
              regexp_replace(acc, s"($c+)", "\u0001$1\u0001"))
          val segs = filter(split(marked, "\u0001+"), x => length(x) > 0)
          flatten(transform(segs, s0 => {
            val bigrams = transform(sequence(lit(1), length(s0) - 1),
              i => s0.substr(i, lit(2)))
            val chars = transform(sequence(lit(1), length(s0)),
              i => s0.substr(i, lit(1)))
            val enabledArm =
              if (eCls.isEmpty) when(lit(false), array(s0))
              else when(s0.rlike(s"^$eCls") && length(s0) >= 2,
                if (uniFlag) concat(bigrams, chars) else bigrams)
            val withPerChar =
              if (pCls.isEmpty) enabledArm
              else enabledArm.when(s0.rlike(s"^$pCls"), chars)
            withPerChar.otherwise(array(s0))
          }))
        }))
      }
      if (cjkUnigram) {
        // Han runs split to single-char tokens (ES standard-tokenizer
        // IDEOGRAPHIC behavior — the `chinese` type); other scripts and
        // kana/hangul runs pass whole
        val han = "[\\u3400-\\u4DBF\\u4E00-\\u9FFF]"
        toks = flatten(transform(toks, t => {
          val segs = filter(
            split(regexp_replace(t, s"($han+)", "\u0001$1\u0001"), "\u0001"),
            x => length(x) > 0)
          flatten(transform(segs, s0 =>
            when(s0.rlike(s"^$han"),
              transform(sequence(lit(1), length(s0)), i => s0.substr(i, lit(1))))
              .otherwise(array(s0))))
        }))
      }
      if (minTokenLength > 1)
        toks = filter(toks, t => length(t) >= minTokenLength)
      if (maxTokenLength > 0)
        toks = filter(toks, t => length(t) <= maxTokenLength)
      if (stopwords.nonEmpty) {
        val sw = array(stopwords.map(lit): _*)
        toks = filter(toks, t => !array_contains(sw, t))
      }
      if (porter) toks = transform(toks, porterUdf(_))
      else if (sStem) toks = transform(toks, stemCol(_))
      else minimalStem match {
        case "de" => toks = transform(toks, germanStemCol(_))
        case "fr" => toks = transform(toks, frenchStemCol(_))
        case "es" => toks = transform(toks, spanishStemCol(_))
        case "it" => toks = transform(toks, italianStemCol(_))
        case "pt" => toks = transform(toks, portugueseStemCol(_))
        case "nl" => toks = transform(toks, dutchStemCol(_))
        case "ru" => toks = transform(toks, russianStemCol(_))
        case "sv" => toks = transform(toks, nordicStemCol(_))
        case "no" => toks = transform(toks, nordicStemCol(_))
        case "da" => toks = transform(toks, nordicStemCol(_))
        case "fi" => toks = transform(toks, finnishStemCol(_))
        case code if MatchText.lightRules.contains(code) =>
          toks = transform(toks, MatchText.lightStemCol(code)(_))
        case _    => ()
      }
      // edge n-grams: every prefix of length min..max per token (the
      // Lucene EdgeNGramTokenFilter autocomplete shape)
      if (edgeNgram._1 > 0) {
        val (mn, mx) = edgeNgram
        toks = flatten(transform(filter(toks, t => length(t) >= mn),
          t => transform(sequence(lit(mn), least(lit(mx), length(t))),
            n => t.substr(lit(1), n))))
      }
      // shingles: originals + space-joined token windows of size min..max
      // (Lucene ShingleFilter with output_unigrams)
      if (shingle._1 > 1) {
        val (mn, mx) = shingle
        val base = toks
        (mn to mx).foreach { s =>
          toks = concat(toks,
            when(size(base) >= s,
              transform(sequence(lit(1), size(base) - s + 1),
                i => concat_ws(" ", slice(base, i, lit(s)))))
              .otherwise(array()))
        }
      }
      toks
    }
    /** Same chain over a driver-side string (for query terms). */
    def tokens(s: String): Seq[String] = {
      val filtered = charFilters.foldLeft(s)((acc, f) => f(acc))
      val cased = if (lowered) filtered.toLowerCase else filtered
      var t =
        if (tokenizer == "keyword") Seq(cased)
        else cased.split(splitPattern).toSeq.filter(_.nonEmpty)
      if (asciifold) t = t.map(asciiFoldStr)
      if (cjkBigram) {
        val ign = cjkIgnoredIds
        t = t.flatMap(MatchText.cjkExpand(_, ign, cjkOutputUnigrams))
      }
      if (cjkUnigram) t = t.flatMap(MatchText.cjkExpandUnigram)
      if (minTokenLength > 1) t = t.filter(_.length >= minTokenLength)
      if (maxTokenLength > 0) t = t.filter(_.length <= maxTokenLength)
      if (stopwords.nonEmpty) { val sw = stopwords.toSet; t = t.filterNot(sw) }
      if (porter) t = t.map(graft.functions.Porter.stem)
      else if (sStem) t = t.map(stemStr)
      else minimalStem match {
        case "de" => t = t.map(germanStemStr)
        case "fr" => t = t.map(frenchStemStr)
        case "es" => t = t.map(spanishStemStr)
        case "it" => t = t.map(italianStemStr)
        case "pt" => t = t.map(portugueseStemStr)
        case "nl" => t = t.map(dutchStemStr)
        case "ru" => t = t.map(russianStemStr)
        case "sv" | "no" | "da" => t = t.map(nordicStemStr)
        case "fi" => t = t.map(finnishStemStr)
        case code if MatchText.lightRules.contains(code) =>
          t = t.map(MatchText.lightStemStr(code))
        case _    => ()
      }
      if (edgeNgram._1 > 0) {
        val (mn, mx) = edgeNgram
        t = t.filter(_.length >= mn)
          .flatMap(tok => (mn to math.min(mx, tok.length)).map(tok.take))
      }
      if (shingle._1 > 1) {
        val (mn, mx) = shingle
        val base = t
        (mn to mx).foreach { s =>
          if (base.length >= s)
            t = t ++ base.sliding(s).map(_.mkString(" "))
        }
      }
      t
    }
  }
  object Analyzer {
    val default: Analyzer = Analyzer()
    /** CrateDB's `english` analyzer approximated: standard tokenizer +
      * English stopwords + light stemming (SQL-replayable — the property
      * the DuckDB oracle queries need). */
    val english: Analyzer = Analyzer(stopwords = englishStopwords, sStem = true)
    /** Full-fidelity `english`: Lucene uses PorterStemFilter; so does this
      * (spec-pinned against the published algorithm's vocabulary). */
    val englishPorter: Analyzer = Analyzer(stopwords = englishStopwords, porter = true)

    /** Named-analyzer registry: built-ins (reference `builtin-analyzer`
      * list) plus everything `CREATE ANALYZER` registered this session. */
    private val registry = new java.util.concurrent.ConcurrentHashMap[String, Analyzer]()
    Seq(
      "standard"   -> default,
      "english"    -> english,
      "whitespace" -> Analyzer(tokenizer = "whitespace", lowercase = false),
      "keyword"    -> Analyzer(tokenizer = "keyword", lowercase = false),
      "simple"     -> Analyzer(tokenizer = "letter"),
      "stop"       -> Analyzer(tokenizer = "letter", stopwords = englishStopwords),
      // language analyzers (reference builtin-analyzer list bundles the
      // Lucene language packs): stop set + minimal plural stemmer +
      // (German) umlaut/ß folding — light-stemming approximations,
      // SQL-replayable by design
      "german"  -> Analyzer(stopwords = germanStopwords, minimalStem = "de"),
      "french"  -> Analyzer(stopwords = frenchStopwords, minimalStem = "fr"),
      "spanish" -> Analyzer(stopwords = spanishStopwords, minimalStem = "es"),
      "italian"    -> Analyzer(stopwords = italianStopwords, minimalStem = "it"),
      "portuguese" -> Analyzer(stopwords = portugueseStopwords, minimalStem = "pt"),
      "dutch"      -> Analyzer(stopwords = dutchStopwords, minimalStem = "nl"),
      "russian"    -> Analyzer(stopwords = russianStopwords, minimalStem = "ru"),
      "swedish"    -> Analyzer(stopwords = swedishStopwords, minimalStem = "sv"),
      "norwegian"  -> Analyzer(stopwords = norwegianStopwords, minimalStem = "no"),
      "danish"     -> Analyzer(stopwords = danishStopwords, minimalStem = "da"),
      "finnish"    -> Analyzer(stopwords = finnishStopwords, minimalStem = "fi"),
      // Lucene CJKAnalyzer: CJKWidthFilter (fullwidth ASCII → halfwidth,
      // halfwidth katakana → fullwidth) + StandardTokenizer + lowercase
      // + CJK bigrams + (English-ish) stop set
      "cjk"        -> Analyzer(stopwords = englishStopwords, cjkBigram = true,
        charFilters = Seq(CharFilter("cjk_width"))),
      // Wave 4 — the REST of the reference's builtin language list
      // (ddl/analyzers.rst `type='<language>'`: 34 types, all now
      // resolvable). Each is stop set + the data-driven light rules in
      // [[lightRules]]; documented approximations of Lucene's stemmers.
      "arabic"     -> Analyzer(stopwords = arabicStopwords, minimalStem = "ar"),
      "turkish"    -> Analyzer(stopwords = turkishStopwords, minimalStem = "tr"),
      "greek"      -> Analyzer(stopwords = greekStopwords, minimalStem = "el"),
      "hindi"      -> Analyzer(stopwords = hindiStopwords, minimalStem = "hi"),
      "czech"      -> Analyzer(stopwords = czechStopwords, minimalStem = "cs"),
      "hungarian"  -> Analyzer(stopwords = hungarianStopwords, minimalStem = "hu"),
      "indonesian" -> Analyzer(stopwords = indonesianStopwords, minimalStem = "id"),
      "romanian"   -> Analyzer(stopwords = romanianStopwords, minimalStem = "ro"),
      "bulgarian"  -> Analyzer(stopwords = bulgarianStopwords, minimalStem = "bg"),
      "catalan"    -> Analyzer(stopwords = catalanStopwords, minimalStem = "ca"),
      "galician"   -> Analyzer(stopwords = galicianStopwords, minimalStem = "gl"),
      "latvian"    -> Analyzer(stopwords = latvianStopwords, minimalStem = "lv"),
      "lithuanian" -> Analyzer(stopwords = lithuanianStopwords, minimalStem = "lt"),
      "armenian"   -> Analyzer(stopwords = armenianStopwords, minimalStem = "hy"),
      "basque"     -> Analyzer(stopwords = basqueStopwords, minimalStem = "eu"),
      "bengali"    -> Analyzer(stopwords = bengaliStopwords, minimalStem = "bn"),
      // brazilian ≈ the portuguese chain (Lucene's BrazilianStemmer is a
      // close cousin; same stop family)
      "brazilian"  -> Analyzer(stopwords = portugueseStopwords, minimalStem = "pt"),
      // persian: Lucene normalizes (arabic-script folds) but does NOT stem
      "persian"    -> Analyzer(stopwords = persianStopwords, minimalStem = "fa"),
      "sorani"     -> Analyzer(stopwords = soraniStopwords, minimalStem = "ckb"),
      // thai: dictionary word segmentation (platform BreakIterator — the
      // JDK's ICU-derived Thai dictionary, Lucene ThaiTokenizer's
      // lineage) + stop set
      "thai"       -> Analyzer(stopwords = thaiStopwords,
        charFilters = Seq(CharFilter("thai_words"))),
      // chinese: the reference maps it to the standard analyzer, whose
      // Unicode segmentation emits one token per Han ideograph
      "chinese"    -> Analyzer(stopwords = englishStopwords, cjkUnigram = true)
    ).foreach { case (n, a) => registry.put(n, a) }
    def register(name: String, a: Analyzer): Unit = registry.put(name.toLowerCase, a)
    def drop(name: String): Unit = registry.remove(name.toLowerCase)
    def byName(name: String): Analyzer = {
      val a = registry.get(name.toLowerCase)
      require(a != null, s"unknown analyzer: $name")
      a
    }
    def exists(name: String): Boolean = registry.containsKey(name.toLowerCase)
  }

  /** Driver-side handle store for [[Analyzer.apply]]'s `call_function`
    * route: `call_function` addresses functions by NAME only, so the
    * analyzer instance is interned here and the id travels as a literal
    * to the expression BUILDER (which runs on the driver and embeds the
    * full analyzer into [[graft.plans.AnalyzerChainExpr]] — executors
    * never consult this map). Entries are tiny config case classes,
    * deduplicated, and bounded by the number of distinct chains a JVM
    * builds. */
  private[operators] object AnalyzerInterner {
    private val byAnalyzer =
      new java.util.concurrent.ConcurrentHashMap[Analyzer, Integer]()
    private val byId =
      new java.util.concurrent.ConcurrentHashMap[Integer, Analyzer]()
    private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    def intern(a: Analyzer): Int = {
      val id = byAnalyzer.computeIfAbsent(a, _ => {
        val n = Integer.valueOf(seq.incrementAndGet())
        byId.put(n, a)
        n
      })
      id.intValue()
    }
    def lookup(id: Int): Analyzer = {
      val a = byId.get(Integer.valueOf(id))
      require(a != null, s"unknown analyzer handle $id")
      a
    }
  }

  /** Idempotent registration of the `graft_analyze` expression builder
    * (the [[Analyzer.apply]] entry point). */
  private[operators] def registerAnalyzeFn(
      spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_analyze", { exprs =>
        val id = exprs(1).eval(null) match {
          case i: Int  => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"graft_analyze expects a literal analyzer handle, got $other")
        }
        graft.plans.AnalyzerChainExpr(exprs(0), AnalyzerInterner.lookup(id))
      }, "scala_udf")

  /** The fused-kernel body of [[graft.plans.AnalyzerChainExpr]]: the
    * driver-side [[Analyzer.tokens]] chain over one row's text. */
  def evalTokens(a: Analyzer,
                 s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = a.tokens(s.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .toArray[Any])
  }

  private val porterUdf =
    udf((t: String) => graft.functions.Porter.stem(t))

  /** The reference's English stop set (Lucene `EnglishAnalyzer#ENGLISH_STOP_WORDS_SET`). */
  val englishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with")

  /** High-frequency cores of the published stopword lists the reference's
    * bundled Lucene language analyzers ship (snowball stop sets) — the
    * same approximation stance as [[englishStopwords]]. */
  val germanStopwords: Seq[String] = Seq(
    "aber", "als", "am", "an", "auch", "auf", "aus", "bei", "bin", "bis",
    "das", "dass", "dem", "den", "der", "des", "die", "doch", "ein", "eine",
    "einem", "einen", "einer", "eines", "er", "es", "für", "hat", "ich",
    "im", "in", "ist", "mit", "nach", "nicht", "noch", "nur", "oder", "sich",
    "sie", "sind", "so", "und", "von", "vor", "war", "wie", "wir", "zu", "zum")
  val frenchStopwords: Seq[String] = Seq(
    "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du", "elle",
    "en", "et", "eux", "il", "ils", "je", "la", "le", "les", "leur", "lui",
    "mais", "me", "même", "mes", "moi", "mon", "ne", "nos", "notre", "nous",
    "on", "ou", "par", "pas", "pour", "qu", "que", "qui", "sa", "se", "ses",
    "son", "sur", "ta", "te", "tes", "toi", "ton", "tu", "un", "une", "vos",
    "votre", "vous")
  val spanishStopwords: Seq[String] = Seq(
    "a", "al", "algo", "como", "con", "de", "del", "desde", "donde", "el",
    "ella", "ellas", "ellos", "en", "entre", "era", "es", "esa", "ese",
    "eso", "esta", "este", "esto", "fue", "ha", "hay", "la", "las", "le",
    "les", "lo", "los", "más", "me", "mi", "muy", "no", "nos", "o", "para",
    "pero", "por", "que", "se", "ser", "si", "sin", "sobre", "su", "sus",
    "te", "un", "una", "uno", "y", "ya")
  val italianStopwords: Seq[String] = Seq(
    "a", "al", "alla", "anche", "che", "chi", "ci", "come", "con", "da",
    "dal", "degli", "dei", "del", "della", "delle", "di", "e", "è", "gli",
    "ha", "hanno", "i", "il", "in", "io", "la", "le", "lei", "lo", "loro",
    "lui", "ma", "mi", "ne", "nel", "noi", "non", "o", "per", "più", "se",
    "si", "sono", "su", "sul", "ti", "tra", "tu", "un", "una", "uno", "vi",
    "voi")
  val portugueseStopwords: Seq[String] = Seq(
    "a", "ao", "aos", "as", "às", "com", "como", "da", "das", "de", "do",
    "dos", "e", "é", "ela", "elas", "ele", "eles", "em", "entre", "essa",
    "esse", "eu", "foi", "há", "isso", "já", "mais", "mas", "me", "mesmo",
    "muito", "na", "não", "nas", "nem", "no", "nos", "o", "os", "ou",
    "para", "pela", "pelo", "por", "quando", "que", "quem", "se", "sem",
    "ser", "seu", "sua", "também", "tem", "um", "uma", "você")
  val dutchStopwords: Seq[String] = Seq(
    "aan", "al", "als", "bij", "dan", "dat", "de", "der", "deze", "die",
    "dit", "door", "een", "en", "er", "geen", "haar", "had", "heb",
    "hebben", "heeft", "het", "hij", "hoe", "ik", "in", "is", "je", "kan",
    "maar", "me", "meer", "men", "met", "mijn", "na", "naar", "niet",
    "nog", "nu", "of", "om", "ook", "op", "over", "te", "tot", "uit",
    "van", "veel", "voor", "wat", "was", "we", "wie", "zal", "ze", "zich",
    "zij", "zijn", "zo", "zou")
  val russianStopwords: Seq[String] = Seq(
    "а", "бы", "был", "была", "было", "в", "вам", "вас", "во", "вот",
    "все", "вы", "да", "даже", "для", "до", "его", "ее", "ей", "ему",
    "если", "есть", "же", "за", "и", "из", "или", "их", "к", "как",
    "когда", "кто", "ли", "меня", "мне", "мы", "на", "не", "него", "ней",
    "нет", "ни", "но", "ну", "о", "он", "она", "они", "от", "по", "под",
    "при", "с", "со", "так", "там", "тебя", "то", "только", "ты", "у",
    "уже", "что", "чтобы", "это", "этот", "я")
  val swedishStopwords: Seq[String] = Seq(
    "alla", "att", "av", "blev", "bli", "de", "dem", "den", "denna",
    "deras", "det", "detta", "dig", "din", "du", "där", "då", "efter",
    "ej", "eller", "en", "er", "ett", "från", "för", "ha", "hade", "han",
    "hans", "har", "henne", "hon", "hur", "här", "i", "icke", "inom",
    "inte", "jag", "ju", "kan", "kunde", "man", "med", "mellan", "men",
    "mig", "min", "mot", "mycket", "ni", "nu", "när", "och", "om", "oss",
    "på", "samma", "sedan", "sig", "sin", "så", "till", "under", "upp",
    "ut", "utan", "vad", "var", "vara", "varje", "vem", "vi", "vid",
    "än", "är", "åt", "över")
  val norwegianStopwords: Seq[String] = Seq(
    "alle", "at", "av", "da", "de", "deg", "den", "denne", "der", "det",
    "dette", "din", "du", "eller", "en", "er", "et", "ett", "etter",
    "for", "fra", "ha", "hadde", "han", "hans", "har", "hun", "hva",
    "hvor", "i", "ikke", "jeg", "kan", "kom", "man", "med", "meg",
    "mellom", "men", "min", "mot", "nå", "når", "og", "om", "oss", "over",
    "på", "se", "seg", "selv", "sin", "skal", "skulle", "som", "så",
    "til", "ut", "var", "ved", "vi", "vil", "ville", "være", "vært", "å")
  val danishStopwords: Seq[String] = Seq(
    "af", "alle", "at", "da", "de", "dem", "den", "denne", "der", "det",
    "dette", "dig", "din", "dog", "du", "efter", "eller", "en", "end",
    "er", "et", "for", "fra", "ham", "han", "hans", "har", "havde",
    "have", "hende", "hun", "hvad", "hvis", "hvor", "i", "ikke", "ind",
    "jeg", "jo", "kan", "kom", "man", "mange", "med", "meget", "men",
    "mig", "min", "mod", "når", "nu", "og", "om", "op", "os", "over",
    "på", "selv", "sig", "sin", "skal", "skulle", "som", "sådan", "thi",
    "til", "ud", "under", "var", "ved", "vi", "vil", "ville", "vor", "være")
  val finnishStopwords: Seq[String] = Seq(
    "ei", "eivät", "emme", "en", "et", "ette", "että", "he", "hän", "ja",
    "jo", "joka", "jos", "kanssa", "keiden", "ketkä", "koska", "kuin",
    "kuka", "kun", "me", "mikä", "minä", "mitä", "mukaan", "mutta", "myös",
    "ne", "niin", "noin", "nyt", "näin", "ole", "olen", "olet", "oli",
    "olla", "on", "ovat", "sekä", "se", "sen", "siellä", "siitä", "sinä",
    "sitä", "tai", "tämä", "te", "tuo", "vaan", "vai", "vain", "voi")

  // Wave-4 stop sets: representative high-frequency function words per
  // language (the full Lucene lists run to hundreds of entries; these
  // are the heads of those lists, documented as subsets — custom lists
  // load through CREATE ANALYZER's stopwords parameter as everywhere)
  val arabicStopwords: Seq[String] = Seq(
    "في", "من", "على", "الى", "إلى", "عن", "مع", "هذا", "هذه", "ذلك",
    "التي", "الذي", "ان", "أن", "كان", "كانت", "لم", "لا", "ما", "هو",
    "هي", "و", "ثم", "او", "أو", "كل", "بعد", "قبل", "قد", "اذا", "إذا")
  val turkishStopwords: Seq[String] = Seq(
    "ve", "bir", "bu", "da", "de", "için", "ile", "gibi", "daha", "çok",
    "en", "o", "ama", "ki", "ne", "her", "mi", "mu", "mü", "mı", "şu",
    "ise", "ya", "hem", "değil", "olarak", "kadar", "sonra", "önce")
  val greekStopwords: Seq[String] = Seq(
    "και", "το", "η", "ο", "τα", "οι", "του", "της", "των", "στο", "στη",
    "με", "για", "από", "που", "να", "δεν", "θα", "ένα", "μια", "αυτό",
    "είναι", "ως", "αλλά", "ή", "σε", "αν", "πως", "ότι")
  val hindiStopwords: Seq[String] = Seq(
    "और", "का", "की", "के", "में", "से", "को", "है", "हैं", "था", "थी",
    "यह", "वह", "पर", "एक", "हो", "ही", "भी", "तो", "ने", "कि", "जो",
    "नहीं", "कुछ", "अपने", "साथ", "इस", "उस")
  val czechStopwords: Seq[String] = Seq(
    "a", "aby", "ale", "ani", "by", "co", "do", "i", "je", "jeho", "jen",
    "ji", "jsem", "jsou", "k", "kde", "kdy", "když", "na", "nebo", "není",
    "o", "od", "po", "pro", "protože", "před", "s", "se", "si", "tak",
    "také", "ten", "to", "u", "v", "ve", "z", "za", "že")
  val hungarianStopwords: Seq[String] = Seq(
    "a", "az", "és", "egy", "hogy", "nem", "is", "de", "van", "volt",
    "csak", "ha", "mint", "már", "meg", "vagy", "még", "ez", "azt", "el",
    "ki", "mi", "te", "ő", "ők", "mert", "után", "így", "olyan")
  val indonesianStopwords: Seq[String] = Seq(
    "yang", "dan", "di", "ke", "dari", "untuk", "pada", "dengan", "ini",
    "itu", "adalah", "tidak", "ada", "akan", "atau", "juga", "saya",
    "kami", "mereka", "dia", "sudah", "bisa", "karena", "dalam", "oleh")
  val romanianStopwords: Seq[String] = Seq(
    "și", "de", "la", "în", "cu", "pe", "un", "o", "este", "sunt", "care",
    "ce", "nu", "se", "din", "mai", "dar", "sau", "a", "al", "ale", "că",
    "pentru", "au", "fost", "dacă", "după", "între")
  val bulgarianStopwords: Seq[String] = Seq(
    "и", "в", "на", "с", "за", "от", "по", "до", "не", "се", "е", "са",
    "да", "че", "като", "или", "но", "това", "той", "тя", "те", "ние",
    "ако", "при", "след", "само", "още", "може")
  val catalanStopwords: Seq[String] = Seq(
    "i", "de", "la", "el", "les", "els", "en", "a", "que", "és", "un",
    "una", "per", "amb", "no", "es", "al", "del", "dels", "com", "més",
    "o", "si", "ja", "ha", "han", "són", "però")
  val galicianStopwords: Seq[String] = Seq(
    "e", "a", "o", "as", "os", "de", "do", "da", "dos", "das", "en", "no",
    "na", "nos", "nas", "que", "un", "unha", "para", "con", "por", "non",
    "é", "se", "ao", "máis", "pero", "como")
  val latvianStopwords: Seq[String] = Seq(
    "un", "ir", "es", "tu", "ka", "kas", "ar", "no", "uz", "par", "pie",
    "bet", "vai", "šis", "tas", "tā", "jā", "ne", "bija", "būs", "viņš",
    "viņa", "mēs", "jūs", "savā", "pēc")
  val lithuanianStopwords: Seq[String] = Seq(
    "ir", "yra", "aš", "tu", "jis", "ji", "kad", "kas", "su", "iš", "į",
    "ant", "po", "apie", "bet", "ar", "tai", "šis", "tas", "ne", "buvo",
    "bus", "mes", "jūs", "savo", "prie", "per")
  val armenianStopwords: Seq[String] = Seq(
    "և", "եվ", "է", "են", "էր", "մի", "այս", "այդ", "այն", "որ", "ու",
    "նա", "ես", "դու", "մենք", "դուք", "իր", "չի", "ոչ", "բայց", "կամ",
    "համար", "հետ", "մեջ", "վրա")
  val basqueStopwords: Seq[String] = Seq(
    "eta", "da", "dira", "zen", "ziren", "du", "dute", "bat", "hau",
    "hori", "hura", "ez", "bai", "ere", "baina", "edo", "nik", "zu",
    "gu", "haiek", "bere", "nire", "zure", "baten", "arte")
  val bengaliStopwords: Seq[String] = Seq(
    "এবং", "ও", "এই", "যে", "সে", "তার", "আমি", "তুমি", "আমরা", "তারা",
    "কি", "না", "হয়", "ছিল", "করে", "থেকে", "জন্য", "সঙ্গে", "কিন্তু",
    "বা", "আর", "হবে", "এক", "এর", "মধ্যে")
  val persianStopwords: Seq[String] = Seq(
    "و", "در", "به", "از", "که", "این", "آن", "با", "برای", "را", "تا",
    "است", "بود", "شد", "می", "ها", "های", "یک", "هم", "نه", "اگر",
    "ولی", "اما", "یا", "بر", "هر", "من", "تو", "ما")
  val soraniStopwords: Seq[String] = Seq(
    "و", "لە", "بە", "بۆ", "کە", "ئەم", "ئەو", "لەگەڵ", "تا", "ئەگەر",
    "بەڵام", "یان", "هەر", "من", "تۆ", "ئێمە", "ئێوە", "ئەوان", "دە",
    "نە", "هیچ", "چی", "کام")
  val thaiStopwords: Seq[String] = Seq(
    "และ", "ที่", "ใน", "ของ", "เป็น", "มี", "ไม่", "ได้", "ให้", "จะ",
    "ก็", "แต่", "หรือ", "กับ", "จาก", "ถึง", "ว่า", "นี้", "นั้น", "แล้ว",
    "เมื่อ", "ต้อง", "อยู่", "คือ", "โดย")

  private def dropRight(t: Column, n: Int): Column = t.substr(lit(1), length(t) - n)
  private def stemCol(t: Column): Column =
    when(t.endsWith("sses"), dropRight(t, 2))
      .when(t.endsWith("ies"), dropRight(t, 2))
      .when(t.endsWith("ss") || t.endsWith("us") || t.endsWith("is"), t)
      .when(t.endsWith("s") && length(t) > 2, dropRight(t, 1))
      .otherwise(t)
  private def stemStr(s: String): String =
    if (s.endsWith("sses")) s.dropRight(2)
    else if (s.endsWith("ies")) s.dropRight(2)
    else if (s.endsWith("ss") || s.endsWith("us") || s.endsWith("is")) s
    else if (s.endsWith("s") && s.length > 2) s.dropRight(1)
    else s

  /** Minimal (plural-class) light stemmers for the language analyzers —
    * the role Lucene's *MinimalStemFilter plays in the reference's
    * bundled analyzers: strip the productive inflection endings, nothing
    * morphological. Rules are simple suffix tests on purpose: every rule
    * is exactly replayable as SQL CASE arms, which keeps the language
    * analyzers under the DuckDB hash gate (same stance as the English
    * s-stemmer above). German additionally folds umlauts/ß, like the
    * reference's german_normalization filter. */
  private def germanFold(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      t, "ä", "a"), "ö", "o"), "ü", "u"), "ß", "ss")
  private def germanStemCol(t0: Column): Column = {
    val t = germanFold(t0)
    when(length(t) > 5 && t.endsWith("ern"), dropRight(t, 3))
      .when(length(t) > 4 && (t.endsWith("er") || t.endsWith("en") ||
        t.endsWith("es") || t.endsWith("em")), dropRight(t, 2))
      .when(length(t) > 3 && (t.endsWith("e") || t.endsWith("n") ||
        t.endsWith("s")), dropRight(t, 1))
      .otherwise(t)
  }
  private def germanStemStr(s0: String): String = {
    val s = s0.replace("ä", "a").replace("ö", "o").replace("ü", "u")
      .replace("ß", "ss")
    if (s.length > 5 && s.endsWith("ern")) s.dropRight(3)
    else if (s.length > 4 && Seq("er", "en", "es", "em").exists(s.endsWith)) s.dropRight(2)
    else if (s.length > 3 && Seq("e", "n", "s").exists(s.endsWith)) s.dropRight(1)
    else s
  }
  private def frenchStemCol(t: Column): Column =
    when(length(t) > 5 && t.endsWith("aux"), concat(dropRight(t, 3), lit("al")))
      .when(length(t) > 4 && t.endsWith("x"), dropRight(t, 1))
      .when(length(t) > 3 && t.endsWith("s"), dropRight(t, 1))
      .otherwise(t)
  private def frenchStemStr(s: String): String =
    if (s.length > 5 && s.endsWith("aux")) s.dropRight(3) + "al"
    else if (s.length > 4 && s.endsWith("x")) s.dropRight(1)
    else if (s.length > 3 && s.endsWith("s")) s.dropRight(1)
    else s
  private def spanishStemCol(t: Column): Column =
    when(length(t) > 4 && t.endsWith("es"), dropRight(t, 2))
      .when(length(t) > 3 && t.endsWith("s"), dropRight(t, 1))
      .otherwise(t)
  private def spanishStemStr(s: String): String =
    if (s.length > 4 && s.endsWith("es")) s.dropRight(2)
    else if (s.length > 3 && s.endsWith("s")) s.dropRight(1)
    else s

  // Round-5 language packs (the reference bundles Lucene's full analyzer
  // set — docs/general/ddl/fulltext-indices.rst builtin list; same
  // replayable plural-class stance as de/fr/es above):
  /** Italian plural classes: -ie → drop 2 (serie-like), -i/-e → drop 1
    * (the Lucene ItalianLightStemFilter vowel-truncation core). */
  private def italianStemCol(t: Column): Column =
    when(length(t) > 4 && t.endsWith("ie"), dropRight(t, 2))
      .when(length(t) > 3 && (t.endsWith("i") || t.endsWith("e")), dropRight(t, 1))
      .otherwise(t)
  private def italianStemStr(s: String): String =
    if (s.length > 4 && s.endsWith("ie")) s.dropRight(2)
    else if (s.length > 3 && (s.endsWith("i") || s.endsWith("e"))) s.dropRight(1)
    else s
  /** Portuguese plural classes (Lucene PortugueseMinimalStemFilter):
    * -ões/-ães → -ão, -ais → -al, trailing -s dropped. */
  private def portugueseStemCol(t: Column): Column =
    when(length(t) > 5 && (t.endsWith("ões") || t.endsWith("ães")),
        concat(dropRight(t, 3), lit("ão")))
      .when(length(t) > 5 && t.endsWith("ais"), concat(dropRight(t, 3), lit("al")))
      .when(length(t) > 3 && t.endsWith("s"), dropRight(t, 1))
      .otherwise(t)
  private def portugueseStemStr(s: String): String =
    if (s.length > 5 && (s.endsWith("ões") || s.endsWith("ães"))) s.dropRight(3) + "ão"
    else if (s.length > 5 && s.endsWith("ais")) s.dropRight(3) + "al"
    else if (s.length > 3 && s.endsWith("s")) s.dropRight(1)
    else s
  /** Dutch plural classes: -en → drop 2, -s/-e → drop 1. */
  private def dutchStemCol(t: Column): Column =
    when(length(t) > 4 && t.endsWith("en"), dropRight(t, 2))
      .when(length(t) > 3 && (t.endsWith("s") || t.endsWith("e")), dropRight(t, 1))
      .otherwise(t)
  private def dutchStemStr(s: String): String =
    if (s.length > 4 && s.endsWith("en")) s.dropRight(2)
    else if (s.length > 3 && (s.endsWith("s") || s.endsWith("e"))) s.dropRight(1)
    else s
  /** Russian case/number endings (RussianLightStemFilter core): 3-char
    * instrumental/genitive plurals, then 2-char case endings, then single
    * vowels/soft sign. */
  private val ru3 = Seq("ами", "ями", "ого", "его", "ыми", "ими")
  private val ru2 = Seq("ов", "ев", "ие", "ые", "ой", "ей", "ах", "ях",
    "ам", "ям", "ом", "ем", "ть", "ет", "ют", "ла", "ло", "ли")
  private val ru1 = Seq("а", "я", "ы", "и", "о", "е", "ь", "й", "у", "ю")
  private def russianStemCol(t: Column): Column = {
    val c3 = ru3.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    val c2 = ru2.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    val c1 = ru1.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    when(length(t) > 5 && c3, dropRight(t, 3))
      .when(length(t) > 4 && c2, dropRight(t, 2))
      .when(length(t) > 3 && c1, dropRight(t, 1))
      .otherwise(t)
  }
  private def russianStemStr(s: String): String =
    if (s.length > 5 && ru3.exists(s.endsWith)) s.dropRight(3)
    else if (s.length > 4 && ru2.exists(s.endsWith)) s.dropRight(2)
    else if (s.length > 3 && ru1.exists(s.endsWith)) s.dropRight(1)
    else s
  /** Shared North-Germanic plural/definite endings (Lucene's
    * Swedish/Norwegian/DanishLightStemFilter core): -erne/-ene (definite
    * plurals), -er/-ar/-or/-en/-et (plural/definite), trailing -e/-n/-t. */
  private val nordic4 = Seq("erne", "erna", "arna", "orna")
  private val nordic3 = Seq("ene", "ens")
  private val nordic2 = Seq("er", "ar", "or", "en", "et")
  private def nordicStemCol(t: Column): Column = {
    val c4 = nordic4.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    val c3 = nordic3.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    val c2 = nordic2.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    when(length(t) > 6 && c4, dropRight(t, 4))
      .when(length(t) > 5 && c3, dropRight(t, 3))
      .when(length(t) > 4 && c2, dropRight(t, 2))
      .when(length(t) > 3 && (t.endsWith("e") || t.endsWith("n")), dropRight(t, 1))
      .otherwise(t)
  }
  private def nordicStemStr(s: String): String =
    if (s.length > 6 && nordic4.exists(s.endsWith)) s.dropRight(4)
    else if (s.length > 5 && nordic3.exists(s.endsWith)) s.dropRight(3)
    else if (s.length > 4 && nordic2.exists(s.endsWith)) s.dropRight(2)
    else if (s.length > 3 && (s.endsWith("e") || s.endsWith("n"))) s.dropRight(1)
    else s
  /** Finnish locative/case endings (FinnishLightStemFilter's most
    * productive subset — agglutinative morphology means this is a coarse
    * approximation, same documented stance as the other light stemmers). */
  private val fi3 = Seq("ssa", "ssä", "sta", "stä", "lla", "llä", "lta",
    "ltä", "lle", "ksi", "ina", "inä")
  private val fi2 = Seq("na", "nä", "ta", "tä", "en", "in")
  private def finnishStemCol(t: Column): Column = {
    val c3 = fi3.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    val c2 = fi2.map(sfx => t.endsWith(sfx)).reduce(_ || _)
    when(length(t) > 5 && c3, dropRight(t, 3))
      .when(length(t) > 4 && c2, dropRight(t, 2))
      .when(length(t) > 3 && (t.endsWith("t") || t.endsWith("n")), dropRight(t, 1))
      .otherwise(t)
  }
  private def finnishStemStr(s: String): String =
    if (s.length > 5 && fi3.exists(s.endsWith)) s.dropRight(3)
    else if (s.length > 4 && fi2.exists(s.endsWith)) s.dropRight(2)
    else if (s.length > 3 && (s.endsWith("t") || s.endsWith("n"))) s.dropRight(1)
    else s

  /** `MATCH(col, 'query')` with the reference's options
    * (`MatchPredicate.java:85`, `docs/general/dql/fulltext.rst`):
    *
    *  - `operator`: "and" (default — every term must occur) or "or" (any
    *    term suffices, Lucene's `operator OR`);
    *  - `fuzziness`: a query term also matches any text token within this
    *    Levenshtein distance (0 = exact). Native `exists` + `levenshtein`
    *    expressions — codegen'd, and replayable in the DuckDB oracle, which
    *    has the same `levenshtein` scalar.
    */
  def matchPredicate(text: Column, query: String,
                     operator: String = "and", fuzziness: Int = 0,
                     analyzer: Analyzer = Analyzer.default): Column = {
    require(operator == "and" || operator == "or", s"unsupported operator: $operator")
    val terms = analyzer.tokens(query).distinct
    val toks = analyzer(text)
    val perTerm = terms.map { t =>
      if (fuzziness <= 0) array_contains(toks, t)
      else exists(toks, tok => levenshtein(tok, lit(t)) <= fuzziness)
    }
    val combined =
      if (operator == "and") perTerm.reduceOption(_ && _)
      else perTerm.reduceOption(_ || _)
    combined.getOrElse(lit(true))
  }

  /** `MATCH ... USING phrase WITH (slop = n)` (`MatchPredicate.java:85`;
    * Lucene sloppy phrase): the phrase terms appear IN ORDER with at most
    * `slop` extra tokens stretched across the whole window — i.e. there
    * exist positions p1 < p2 < … < pk with pk − p1 ≤ k−1+slop. slop = 0
    * degenerates to the adjacent-phrase test. (Lucene's full edit-distance
    * slop also counts transpositions; the in-order form is the documented
    * common case and is exactly SQL-replayable.)
    *
    * Built from native higher-order expressions only: per-term position
    * arrays via `filter` over a posexplode-free zip_with index trick, then
    * a nested `exists` chain — no UDF, stays in codegen. */
  def phraseSlopPredicate(text: Column, phrase: String, slop: Int,
                          analyzer: Analyzer = Analyzer.default): Column =
    phraseSlopOverTokens(analyzer(text), phrase, slop, analyzer)

  /** [[phraseSlopPredicate]] over an already-analyzed token array — lets
    * a caller evaluating several phrase predicates on the same text
    * project the token array ONCE (the analyzer and the positional
    * machinery below are non-codegen higher-order expressions, so every
    * textual reference re-tokenized otherwise). Semantics identical. */
  def phraseSlopOverTokens(toks: Column, phrase: String, slop: Int,
                           analyzer: Analyzer = Analyzer.default): Column = {
    val terms = analyzer.tokens(phrase)
    require(terms.nonEmpty, "empty phrase")
    // positions of each phrase term in the token array (1-based)
    def positions(term: String): Column =
      filter(zip_with(toks, sequence(lit(1), size(toks)),
        (tok, i) => when(tok === term, i).otherwise(lit(null))), p => p.isNotNull)
    // fold right: exists p_k > p_{k-1} … with the window bound on (p1, pk)
    val k = terms.length
    def build(i: Int, prev: Column, first: Column): Column =
      if (i == k) (prev - first) <= lit(k - 1 + slop)
      else exists(positions(terms(i)), p => p > prev && build(i + 1, p, first))
    if (k == 1) exists(toks, _ === terms.head)
    else exists(positions(terms.head), p => build(1, p, p))
  }

  /** Prebuilt inverted index bundle. `postings` is one row per
    * (term, doc_id) with the term frequency AND the document length baked
    * in, so scoring never re-joins a doc-length table; `termStats` is the
    * per-term document frequency; `nDocs`/`avgdl` are corpus scalars fixed
    * at build time. At scale, persist `postings` (bucketed by term) and
    * re-create the bundle from storage. */
  /** `tbBuckets > 0` marks a STORED index whose postings/termStats carry a
    * `tb` term-bucket partition column — searches prune to the query
    * terms' buckets at the scan ([[termBucket]]). */
  final case class InvertedIndex(postings: DataFrame, termStats: DataFrame,
                                 nDocs: Long, avgdl: Double,
                                 analyzer: Analyzer = Analyzer.default,
                                 tbBuckets: Int = 0)

  /** Build the index: one explode + one groupBy shuffle for postings, then
    * the global stats in two cheap aggregations — paid ONCE, not per query.
    * Postings layout matches what a search engine shards: partitioned by
    * term. The `analyzer` is carried in the bundle so queries are analyzed
    * identically to documents (stopwords/stemming applied to both sides). */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
                 analyzer: Analyzer = Analyzer.default): InvertedIndex = {
    val p0 = df.select(col(idCol).as("doc_id"), explode(analyzer(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val docLen = p0.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val postings = p0.join(docLen, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .persist()
    // (term, doc_id) is unique in p0, so df is a plain count — no
    // countDistinct state.
    val termStats = p0.groupBy("term").agg(count(lit(1)).as("df")).persist()
    val statsRow = docLen.agg(count(lit(1)), avg(col("dl"))).head()
    InvertedIndex(postings, termStats, statsRow.getLong(0),
      if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1), analyzer)
  }

  /** Incremental index maintenance (the delta twin of a full
    * [[buildIndex]]): drop `removedIds`' postings from `old`, merge in a
    * freshly-built index over `added`, and patch the per-term document
    * frequencies and corpus stats arithmetically. The reference updates
    * its per-shard Lucene segments in place on DML; graft's equivalent is
    * this postings-level merge — cost is one pass over the OLD INDEX plus
    * tokenizing only the CHANGED partitions, never a re-scan of the
    * table. A doc present on both sides (an UPDATE) is dropped then
    * re-added with its new content. */
  def updateIndex(old: InvertedIndex, removedIds: DataFrame,
                  added: DataFrame, idCol: String,
                  textCol: String): InvertedIndex = {
    val rem = removedIds.select(col(removedIds.columns.head).as("doc_id"))
    val addIdx = buildIndex(added, idCol, textCol, old.analyzer)
    val oldPost = old.postings.drop("tb")
    val remDocs = oldPost.join(rem, Seq("doc_id"), "left_semi")
    val remAgg = remDocs.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    val (nRem, remLen) = (remAgg.getLong(0), remAgg.getLong(1))
    val remTermCounts = remDocs.groupBy("term").agg(count(lit(1)).as("rdf"))
    val newPostings = oldPost.join(rem, Seq("doc_id"), "left_anti")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .unionByName(addIdx.postings
        .select(col("term"), col("doc_id"), col("tf"), col("dl")))
      .persist()
    val newTermStats = old.termStats.drop("tb")
      .join(remTermCounts, Seq("term"), "left_outer")
      .join(addIdx.termStats.withColumnRenamed("df", "adf"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) - coalesce(col("rdf"), lit(0L)) +
          coalesce(col("adf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .persist()
    val nDocs = old.nDocs - nRem + addIdx.nDocs
    val totalLen = old.avgdl * old.nDocs - remLen + addIdx.avgdl * addIdx.nDocs
    InvertedIndex(newPostings, newTermStats, nDocs,
      if (nDocs > 0) totalLen / nDocs else 0.0, old.analyzer)
  }

  /** Stable term→partition bucket for stored indexes. Java's String
    * hashCode on purpose: computable identically on the driver (to prune
    * a search to its query terms' buckets) and in the write path, across
    * sessions and Spark versions. */
  def termBucket(term: String, buckets: Int): Int =
    math.floorMod(if (term == null) 0 else term.hashCode, buckets)

  private val termBucketUdf = udf((t: String, n: Int) => termBucket(t, n))

  /** Persist an index beside its table (the reference keeps one Lucene
    * index per shard on disk; graft's twin is term-bucketed Parquet).
    * Postings and term stats are value-partitioned on `tb` — a search
    * touches only its query terms' buckets (partition pruning, asserted
    * in StoredIndexSpec). The single-row stats file is written LAST and
    * acts as the commit marker [[loadIndex]] requires. */
  def saveIndex(index: InvertedIndex, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0)
    val spark = index.postings.sparkSession
    import spark.implicits._
    index.postings
      .withColumn("tb", termBucketUdf(col("term"), lit(buckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    index.termStats
      .withColumn("tb", termBucketUdf(col("term"), lit(buckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/termstats")
    Seq((index.nDocs, index.avgdl, buckets))
      .toDF("n_docs", "avgdl", "buckets")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** True when a committed stored index exists at `path`. */
  def storedIndexExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/stats/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Load a stored index. The analyzer is NOT serialized — pass the same
    * (named) analyzer the index was built with; declared-index routing
    * resolves it from the durable index spec. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                analyzer: Analyzer = Analyzer.default): InvertedIndex = {
    val st = ParquetFooter.read(spark, s"$path/stats").head()
    InvertedIndex(
      ParquetFooter.read(spark, s"$path/postings"),
      ParquetFooter.read(spark, s"$path/termstats"),
      st.getLong(0), st.getDouble(1), analyzer, st.getInt(2))
  }

  /** Postings/termStats pruned to the query terms' buckets when the index
    * is stored term-bucketed; pass-through otherwise. */
  private def prunedToTerms(df: DataFrame, index: InvertedIndex,
                            terms: Seq[String]): DataFrame =
    if (index.tbBuckets <= 0) df
    else df.filter(col("tb")
        .isin(terms.map(termBucket(_, index.tbBuckets)).distinct: _*))
      .drop("tb")

  /** BM25-ranked search (Robertson/Sparck-Jones, the scoring the reference
    * gets from Lucene): idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) summed over
    * query terms. Pure plan: broadcast the query terms into the postings and
    * term stats; only matched postings flow — no full-index work. */
  def searchBM25(index: InvertedIndex, query: String, topN: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val termList = index.analyzer.tokens(query).distinct
    val terms = termList.toDF("term")
    val nDocs = index.nDocs.toDouble
    prunedToTerms(index.postings, index, termList).join(broadcast(terms), Seq("term"))
      .join(prunedToTerms(index.termStats, index, termList)
        .join(broadcast(terms), Seq("term")), Seq("term"))
      .withColumn("idf", log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / index.avgdl)))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"), count(lit(1)).as("terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  /** BM25 scores for EVERY matching document (no top-N cut) — the scored
    * half of the indexed `_score` route: the router joins this back to the
    * base table by primary key, so `SELECT …, _score FROM t WHERE MATCH(…)`
    * reads corpus-IDF relevance out of the declared index instead of
    * re-analyzing each row. `operator` mirrors [[matchPredicate]]: "and"
    * keeps only documents containing ALL query terms (terms_hit equals the
    * full distinct-term count), "or" keeps any hit. Plan shape: broadcast
    * the handful of query terms into term-partitioned postings, one narrow
    * aggregation by doc — matched docs only ever flow. */
  def scoreBM25(index: InvertedIndex, query: String, operator: String = "and",
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(operator == "and" || operator == "or", s"unsupported operator: $operator")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val termList = index.analyzer.tokens(query).distinct
    val terms = termList.toDF("term")
    val nDocs = index.nDocs.toDouble
    val scored = prunedToTerms(index.postings, index, termList)
      .join(broadcast(terms), Seq("term"))
      .join(prunedToTerms(index.termStats, index, termList)
        .join(broadcast(terms), Seq("term")), Seq("term"))
      .withColumn("idf", log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / index.avgdl)))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"), count(lit(1)).as("terms_hit"))
    if (operator == "and") scored.filter(col("terms_hit") === termList.length)
    else scored
  }

  /** tf-idf ranked search over a prebuilt index — same pure-join shape. */
  def search(index: InvertedIndex, query: String, topN: Int = 10): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val termList = index.analyzer.tokens(query).distinct
    val terms = termList.toDF("term")
    val nDocs = index.nDocs.toDouble
    prunedToTerms(index.postings, index, termList).join(broadcast(terms), Seq("term"))
      .join(prunedToTerms(index.termStats, index, termList)
        .join(broadcast(terms), Seq("term")), Seq("term"))
      .withColumn("idf", log(lit(nDocs + 1.0) / (col("df") + 1.0)))
      .withColumn("w", col("tf") * col("idf"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score"), count(lit(1)).as("terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  /** Fielded index: like [[InvertedIndex]] but postings/termStats carry a
    * `field` column and the per-field (nDocs, avgdl) live in `fieldStats`
    * (tiny: one row per indexed column — kept as a DataFrame so scoring
    * stays one declarative plan). */
  final case class FieldedIndex(postings: DataFrame, termStats: DataFrame,
                                fieldStats: DataFrame,
                                analyzer: Analyzer = Analyzer.default,
                                tbBuckets: Int = 0)

  /** Build one index over several text columns, e.g. title + body. Single
    * explode over a stacked (field, text) projection → still one shuffle. */
  def buildFieldedIndex(df: DataFrame, idCol: String, fields: Seq[String],
                        analyzer: Analyzer = Analyzer.default): FieldedIndex = {
    val stacked = df.select(col(idCol).as("doc_id"),
        explode(array(fields.map(f => struct(lit(f).as("field"), col(f).as("text"))): _*)).as("ft"))
      .select(col("doc_id"), col("ft.field").as("field"), col("ft.text").as("text"))
    val p0 = stacked
      .select(col("doc_id"), col("field"), explode(analyzer(col("text"))).as("term"))
      .groupBy("field", "term", "doc_id").agg(count(lit(1)).as("tf"))
    val docLen = p0.groupBy("field", "doc_id").agg(sum(col("tf")).as("dl"))
    val postings = p0.join(docLen, Seq("field", "doc_id"))
      .select(col("field"), col("term"), col("doc_id"), col("tf"), col("dl"))
      .persist()
    val termStats = p0.groupBy("field", "term").agg(count(lit(1)).as("df")).persist()
    val fieldStats = docLen.groupBy("field")
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).persist()
    FieldedIndex(postings, termStats, fieldStats, analyzer)
  }

  /** Persist a fielded index like [[saveIndex]]: postings/termStats
    * term-bucketed on `tb` (field stays a data column — queries hit every
    * field but only their terms' buckets), tiny fieldStats plain, stats
    * written last as the commit marker. */
  def saveFieldedIndex(index: FieldedIndex, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0)
    val spark = index.postings.sparkSession
    import spark.implicits._
    index.postings
      .withColumn("tb", termBucketUdf(col("term"), lit(buckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    index.termStats
      .withColumn("tb", termBucketUdf(col("term"), lit(buckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/termstats")
    index.fieldStats.write.mode("overwrite").parquet(s"$path/fieldstats")
    Seq(Tuple1(buckets)).toDF("buckets")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  def loadFieldedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       analyzer: Analyzer = Analyzer.default): FieldedIndex = {
    val st = ParquetFooter.read(spark, s"$path/stats").head()
    FieldedIndex(
      ParquetFooter.read(spark, s"$path/postings"),
      ParquetFooter.read(spark, s"$path/termstats"),
      ParquetFooter.read(spark, s"$path/fieldstats"),
      analyzer, st.getInt(0))
  }

  /** [[updateIndex]] for fielded indexes: per-(field, term) df patches,
    * per-field corpus stats patched arithmetically. */
  def updateFieldedIndex(old: FieldedIndex, removedIds: DataFrame,
                         added: DataFrame, idCol: String,
                         fields: Seq[String]): FieldedIndex = {
    val rem = removedIds.select(col(removedIds.columns.head).as("doc_id"))
    val addIdx = buildFieldedIndex(added, idCol, fields, old.analyzer)
    val oldPost = old.postings.drop("tb")
    val remDocs = oldPost.join(rem, Seq("doc_id"), "left_semi")
    val remField = remDocs.select(col("field"), col("doc_id"), col("dl")).distinct()
      .groupBy("field")
      .agg(count(lit(1)).as("rn"), sum(col("dl")).as("rlen"))
    val remTermCounts = remDocs.groupBy("field", "term")
      .agg(count(lit(1)).as("rdf"))
    val newPostings = oldPost.join(rem, Seq("doc_id"), "left_anti")
      .select(col("field"), col("term"), col("doc_id"), col("tf"), col("dl"))
      .unionByName(addIdx.postings
        .select(col("field"), col("term"), col("doc_id"), col("tf"), col("dl")))
      .persist()
    val newTermStats = old.termStats.drop("tb")
      .join(remTermCounts, Seq("field", "term"), "left_outer")
      .join(addIdx.termStats.withColumnRenamed("df", "adf"),
        Seq("field", "term"), "full_outer")
      .select(col("field"), col("term"),
        (coalesce(col("df"), lit(0L)) - coalesce(col("rdf"), lit(0L)) +
          coalesce(col("adf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .persist()
    val newFieldStats = old.fieldStats
      .join(remField, Seq("field"), "left_outer")
      .join(addIdx.fieldStats
        .withColumnRenamed("n_docs", "an").withColumnRenamed("avgdl", "aavgdl"),
        Seq("field"), "full_outer")
      .select(col("field"),
        (coalesce(col("n_docs"), lit(0L)) - coalesce(col("rn"), lit(0L)) +
          coalesce(col("an"), lit(0L))).as("n2"),
        (coalesce(col("avgdl"), lit(0.0)) * coalesce(col("n_docs"), lit(0L)) -
          coalesce(col("rlen"), lit(0L)) +
          coalesce(col("aavgdl"), lit(0.0)) * coalesce(col("an"), lit(0L))).as("tl"))
      .filter(col("n2") > 0)
      .select(col("field"), col("n2").as("n_docs"),
        (col("tl") / col("n2")).as("avgdl"))
      .persist()
    FieldedIndex(newPostings, newTermStats, newFieldStats, old.analyzer)
  }

  private def prunedToTermsF(df: DataFrame, index: FieldedIndex,
                             terms: Seq[String]): DataFrame =
    if (index.tbBuckets <= 0) df
    else df.filter(col("tb")
        .isin(terms.map(termBucket(_, index.tbBuckets)).distinct: _*))
      .drop("tb")

  /** Full fielded-BM25 score set for `query` — the indexed half of the
    * multi-column `MATCH((a boost, b), 'q') + _score` route (reference:
    * MultiMatch scores come out of Lucene's per-field postings,
    * `lucene/match/MatchQueries.java`). Mirrors the TF fallback's
    * semantics exactly: the PREDICATE is the OR over per-field all-terms
    * matches, while the SCORE also counts partial-field evidence
    * (best_fields = max boosted field score, most_fields = their sum).
    * Plan shape: broadcast of the query terms into field-and-term
    * partitioned postings, one narrow per-(field, doc) aggregation, one
    * per-doc combine — matched docs flow, never the corpus. */
  def scoreFieldedBM25(index: FieldedIndex, query: String,
                       boosts: Map[String, Double] = Map.empty,
                       matchType: String = "best_fields",
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(matchType == "best_fields" || matchType == "most_fields",
      s"unsupported match type: $matchType")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val termList = index.analyzer.tokens(query).distinct
    val terms = termList.toDF("term")
    val boostDf = index.fieldStats.select(col("field")).collect()
      .map(r => (r.getString(0), boosts.getOrElse(r.getString(0), 1.0))).toSeq
      .toDF("field", "boost")
    val perField = prunedToTermsF(index.postings, index, termList)
      .join(broadcast(terms), Seq("term"))
      .join(prunedToTermsF(index.termStats, index, termList)
        .join(broadcast(terms), Seq("term")), Seq("field", "term"))
      .join(broadcast(index.fieldStats), Seq("field"))
      .join(broadcast(boostDf), Seq("field"))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("field", "doc_id", "boost")
      .agg(sum(col("w")).as("fscore"), count(lit(1)).as("terms_hit"))
      .select(col("doc_id"), (col("fscore") * col("boost")).as("boosted"),
        (col("terms_hit") === termList.length).cast("int").as("full_hit"))
    val combine = if (matchType == "best_fields") max(col("boosted")) else sum(col("boosted"))
    perField.groupBy("doc_id")
      .agg(combine.as("score"), max(col("full_hit")).as("matched"))
      .filter(col("matched") === 1)
      .select(col("doc_id"), col("score"))
  }

  /** Multi-column BM25: per-field scores combined with per-field boosts.
    * `matchType`: "best_fields" = max of the boosted field scores (the
    * reference/Lucene default — best single field wins), "most_fields" =
    * their sum (every matching field adds evidence). */
  def searchFielded(index: FieldedIndex, query: String,
                    boosts: Map[String, Double] = Map.empty,
                    matchType: String = "best_fields",
                    topN: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(matchType == "best_fields" || matchType == "most_fields",
      s"unsupported match type: $matchType")
    val spark = index.postings.sparkSession
    import spark.implicits._
    val termList = TextFunctions.tokenize(query.toLowerCase).distinct.toSeq
    val terms = termList.toDF("term")
    val boostDf = index.fieldStats.select(col("field")).collect()
      .map(r => (r.getString(0), boosts.getOrElse(r.getString(0), 1.0))).toSeq
      .toDF("field", "boost")
    val perField = prunedToTermsF(index.postings, index, termList)
      .join(broadcast(terms), Seq("term"))
      .join(prunedToTermsF(index.termStats, index, termList)
        .join(broadcast(terms), Seq("term")), Seq("field", "term"))
      .join(broadcast(index.fieldStats), Seq("field"))
      .join(broadcast(boostDf), Seq("field"))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("field", "doc_id", "boost")
      .agg(sum(col("w")).as("fscore"))
      .select(col("doc_id"), (col("fscore") * col("boost")).as("boosted"))
    val combined =
      if (matchType == "best_fields") perField.groupBy("doc_id").agg(max(col("boosted")).as("score"))
      else perField.groupBy("doc_id").agg(sum(col("boosted")).as("score"))
    combined.orderBy(col("score").desc, col("doc_id")).limit(topN)
  }
}
