package graft.functions

import org.apache.spark.sql.SparkSession

/** One-stop SQL registration for the graft function pack, so every custom
  * function is callable from `spark.sql` as well as the Column API.
  * Idempotent per session.
  */
/** `parse_uri` return shape (reference ParseURIFunction.java:47). */
final case class ParsedUri(scheme: String, userinfo: String, hostname: String,
                           port: Option[Int], path: String, query: String,
                           fragment: String)

/** `parse_url` return shape (reference ParseURLFunction.java:40). */
final case class ParsedUrl(scheme: String, userinfo: String, hostname: String,
                           port: Option[Int], path: String, query: String,
                           parameters: Map[String, Seq[String]],
                           fragment: String)

object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = {
    // STANDARD-CONFORMING string literals, always — the reference (like
    // PG with standard_conforming_strings=on) does NOT process
    // backslash escapes in '...' literals, so `'foo\d+'` is a regex
    // pattern, not "food+". Spark's legacy default eats the backslash
    // (found by the docs corpus: every regex doc example silently
    // mis-parsed). Checked on every call (not just first registration)
    // so a session can never flip back; guarded to keep Spark's
    // deprecation WARN out of per-entry logs.
    if (spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "true")
      spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    graft.Memo(spark, "functions")(register(spark))
  }

  private def register(spark: SparkSession): Unit = {
    val u = spark.udf

    // text / dedup kernels
    u.register("minhash_signature",
      (t: String, sh: Int, n: Int) => if (t == null) null else TextFunctions.minhashSignature(t, sh, n))
    u.register("simhash", (t: String) => if (t == null) null else Long.box(TextFunctions.simhash64(t)))
    u.register("fingerprint", (t: String) => if (t == null) null else Long.box(TextFunctions.fingerprint64(t)))
    u.register("lang_id", (t: String) => if (t == null) null else TextFunctions.langId(t))
    u.register("shingle_jaccard",
      (a: String, b: String, sh: Int) =>
        if (a == null || b == null) null else Double.box(TextFunctions.shingleJaccard(a, b, sh)))

    // geo / net
    u.register("geohash",
      (p: Seq[Double], prec: Int) => if (p == null) null else GeoNetFunctions.geohashString(p(0), p(1), prec))
    // twin under a stable internal name: the registry entry for `geohash`
    // (scalar-tail block below) dispatches the reference's optional
    // precision through this
    u.register("graft_geohash_prec",
      (p: Seq[Double], prec: Int) => if (p == null) null else GeoNetFunctions.geohashString(p(0), p(1), prec))
    u.register("ip_in_cidr",
      (ip: String, cidr: String) =>
        if (ip == null || cidr == null) null
        else Boolean.box(graft.plans.CidrUtil.containedWithin(ip, cidr)))
    GeoShapeFunctions.registerAll(spark) // geo_within/geo_intersects/geo_area/…
    // full regexp_matches TABLE semantics (reference tablefunctions/
    // MatchesFunction.java returns one row per match, each row the array of
    // capture groups — or the whole match when the pattern has no groups).
    // Spark's regexp_extract_all covers ONE group; this returns all matches
    // × all groups, and `posexplode` supplies the row-per-match shape.
    u.register("regexp_matches_all", (s: String, pattern: String) =>
      if (s == null || pattern == null) null
      else {
        val m = java.util.regex.Pattern.compile(pattern).matcher(s)
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        while (m.find())
          out += (if (m.groupCount() == 0) Seq(m.group(0))
                  else (1 to m.groupCount()).map(m.group))
        out.toSeq
      })
    // the reference's regexp_matches TABLE function with its FLAGS
    // contract (RegexpFlags.parseFlags: i/u/U/s/m/x/d map to Pattern
    // bits, 'g' selects ALL matches — without it only the FIRST match
    // row is produced). The Dialect lowers SELECT/FROM-position
    // regexp_matches(...) to explode() over this.
    def regexFlagBits(f: String): Int = {
      var bits = 0
      f.foreach {
        case 'i' => bits |= java.util.regex.Pattern.CASE_INSENSITIVE
        case 'u' => bits |= java.util.regex.Pattern.UNICODE_CASE
        case 'U' => bits |= java.util.regex.Pattern.UNICODE_CHARACTER_CLASS
        case 's' => bits |= java.util.regex.Pattern.DOTALL
        case 'm' => bits |= java.util.regex.Pattern.MULTILINE
        case 'x' => bits |= java.util.regex.Pattern.COMMENTS
        case 'd' => bits |= java.util.regex.Pattern.UNIX_LINES
        case ' ' | 'g' => ()
        case other => throw new IllegalArgumentException(
          s"The regular expression flag is unknown: $other")
      }
      bits
    }
    def regexMatchRows(s: String, pattern: String, flags: String): Seq[Seq[String]] = {
      val fl = if (flags == null) "" else flags
      val m = java.util.regex.Pattern.compile(pattern, regexFlagBits(fl)).matcher(s)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val global = fl.contains('g')
      var go = true
      while (go && m.find()) {
        out += (if (m.groupCount() == 0) Seq(m.group(0))
                else (1 to m.groupCount()).map(m.group))
        go = global
      }
      out.toSeq
    }
    u.register("graft_regexp_matches_rows",
      (s: String, pattern: String, flags: String) =>
        if (s == null || pattern == null) null
        else regexMatchRows(s, pattern, flags))
    // scalar form: the FIRST match's groups (the reference's
    // table-function-in-scalar-position subscript idiom,
    // `regexp_matches(...)[2]`), NULL when no match
    u.register("graft_regexp_groups",
      (s: String, pattern: String, flags: String) =>
        if (s == null || pattern == null) null
        else regexMatchRows(s, pattern, flags).headOption.orNull)
    // Porter 1980 stemmer (reference `english` analyzer's PorterStemFilter)
    u.register("porter_stem", (t: String) => graft.functions.Porter.stem(t))
    // WKT point text -> [lon, lat] (GeoPointType.implicitCast accepts
    // WKT wherever a geo_point is expected)
    u.register("graft_wkt_point", (s: String) =>
      if (s == null) null
      else {
        val c = GeoShapeFunctions.parseShape(s).getCoordinate
        Seq(c.x, c.y)
      })
    u.register("quote_ident", GeoNetFunctions.quoteIdentUdf)
    u.register("parse_ident", GeoNetFunctions.parseIdentUdf)
    // CrateDB parse_uri → OBJECT(scheme, userinfo, hostname, port, path,
    // query, fragment) (reference scalar/string/ParseURIFunction.java:47 —
    // same java.net.URI backing, so component semantics match exactly;
    // unparseable input raises, like the reference's IllegalArgument).
    u.register("parse_uri", (s: String) =>
      if (s == null) null
      else {
        val x = new java.net.URI(s)
        ParsedUri(x.getScheme, x.getUserInfo, x.getHost,
          if (x.getPort == -1) None else Some(x.getPort),
          x.getPath, x.getQuery, x.getFragment)
      })

    // CrateDB parse_url(text) → OBJECT(scheme, userinfo, hostname, port,
    // path, query, parameters, fragment) (reference scalar/string/
    // ParseURLFunction.java:37 — java.net URI→URL backing, URL-decoded
    // components, query params split on `&(?!amp)` with null-valued bare
    // keys, port null when unspecified, IllegalArgument on unparseable).
    // The SQL name dispatches by arity in the registry block below so
    // Spark's native 2/3-arg parse_url keeps working.
    u.register("graft_parse_url", (s: String) =>
      if (s == null) null
      else {
        def dec(t: String): String =
          if (t == null) null
          else java.net.URLDecoder.decode(t, java.nio.charset.StandardCharsets.UTF_8)
        val url =
          try new java.net.URI(s).toURL
          catch { case e @ (_: java.net.MalformedURLException |
                            _: java.net.URISyntaxException |
                            _: IllegalArgumentException) =>
            throw new IllegalArgumentException(s"unable to parse url $s")
          }
        val params: Map[String, Seq[String]] =
          if (url.getQuery == null || url.getQuery.isEmpty) null
          else url.getQuery.split("&(?!amp)").toSeq
            .map { p =>
              val i = p.indexOf('=')
              val k = if (i > 0) dec(p.substring(0, i)) else dec(p)
              val v = if (i > 0 && p.length > i + 1) dec(p.substring(i + 1)) else null
              (k, v)
            }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
        ParsedUrl(url.getProtocol, dec(url.getUserInfo), url.getHost,
          if (url.getPort == -1) None else Some(url.getPort),
          dec(url.getPath), dec(url.getQuery), params, dec(url.getRef))
      })

    // PG bytea escape-format encode/decode (reference EncodeDecodeFunction)
    u.register("encode_escape", (b: Array[Byte]) =>
      if (b == null) null
      else b.map {
        case 0x5c        => "\\\\"
        case c if c >= 0x20 && c <= 0x7e => c.toChar.toString
        case c           => f"\\${c & 0xff}%03o"
      }.mkString)
    u.register("decode_escape", (s: String) =>
      if (s == null) null
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        var i = 0
        while (i < s.length) {
          if (s.charAt(i) == '\\') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\\') { out += 0x5c.toByte; i += 2 }
            else { out += Integer.parseInt(s.substring(i + 1, i + 4), 8).toByte; i += 4 }
          } else { out += s.charAt(i).toByte; i += 1 }
        }
        out.toArray
      })

    // array_set moved to a generic native expression (both reference
    // overloads incl. append/pad-beyond-end) — registered with `reg`
    // below alongside the other Catalyst expressions

    // to_char moved to the full PG template engine (PgToCharExpr) —
    // registered with `reg` below; the r4 java.time-pattern shim could
    // not express ordinal suffixes, lowercase patterns, or intervals

    // vector similarity (SQL surface; Column API in VectorFunctions is
    // native). Edge cases match plans.CosineSimilarityExpr exactly — null on
    // length mismatch and on zero-norm input — so the RewriteVectorUdfs
    // promotion is observationally pure.
    u.register("vector_cosine", (a: Seq[Float], b: Seq[Float]) => {
      if (a == null || b == null || a.length != b.length) null
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) null
        else Double.box(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
    })

    // MATCH(col, 'query') dialect predicate: all query terms present.
    u.register("match_text", (text: String, query: String) =>
      if (text == null || query == null) null
      else {
        val toks = TextFunctions.tokenize(text.toLowerCase).toSet
        Boolean.box(TextFunctions.tokenize(query.toLowerCase).forall(toks.contains))
      })

    // MATCH through a declared fulltext index: both sides run through the
    // index's named analyzer (reference MatchPredicate resolves the
    // column's index analyzer, `lucene/match/MatchQueries.java`). The
    // StatementRouter rewrites match_text → this form for columns with a
    // CREATE TABLE `INDEX … USING FULLTEXT WITH (analyzer = …)` spec.
    u.register("match_text_analyzed", (text: String, query: String, analyzer: String) =>
      if (text == null || query == null) null
      else {
        val a = graft.operators.MatchText.Analyzer.byName(analyzer)
        val toks = a.tokens(text).toSet
        Boolean.box(a.tokens(query).forall(toks.contains))
      })

    // `_score` backing scalar (Dialect.passScore): BM25-style TF
    // saturation over the match predicate's query terms — Σ tf/(tf+1.2)
    // per distinct query term, on the same tokens match_text tests.
    // Deterministic + oracle-replayable; absolute values are engine-
    // specific (like Lucene's), ranking within a query is what matters.
    u.register("graft_match_score", (text: String, query: String) =>
      if (text == null || query == null) null
      else {
        val counts = TextFunctions.tokenize(text.toLowerCase)
          .groupBy(identity).map { case (k, v) => (k, v.length) }
        val s = TextFunctions.tokenize(query.toLowerCase).distinct.map { t =>
          val tf = counts.getOrElse(t, 0).toDouble
          tf / (tf + 1.2)
        }.sum
        Double.box(s)
      })

    // 3-valued-logic helper (reference Ignore3vlFunction.java:52):
    // null → false, so NOT over it behaves 2-valued.
    u.register("ignore3vl", (b: java.lang.Boolean) => Boolean.box(b != null && b))

    // string_to_array moved to a native expression with the 3-arg
    // null_string form (plans/StringToArrayExpression.scala) —
    // registered with `reg` below

    // pg wire-compat lookup scalars (reference scalar/postgres/*,
    // scalar/systeminformation/*) — driver-closure UDFs over plan-time
    // metadata; never in a hot path.
    locally {
      // pg_wchar.h encoding identifiers in OID order
      // (PgEncodingToCharFunction.java:65)
      val encodings = Array(
        "SQL_ASCII", "EUC_JP", "EUC_CN", "EUC_KR", "EUC_TW", "EUC_JIS_2004",
        "UTF8", "MULE_INTERNAL", "LATIN1", "LATIN2", "LATIN3", "LATIN4",
        "LATIN5", "LATIN6", "LATIN7", "LATIN8", "LATIN9", "LATIN10",
        "WIN1256", "WIN1258", "WIN866", "WIN874", "KOI8R", "WIN1251",
        "WIN1252", "ISO_8859_5", "ISO_8859_6", "ISO_8859_7", "ISO_8859_8",
        "WIN1250", "WIN1253", "WIN1254", "WIN1255", "WIN1257", "KOI8U",
        "SJIS", "BIG5", "GBK", "UHC", "GB18030", "JOHAB", "SHIFT_JIS_2004")
      u.register("pg_encoding_to_char", (enc: java.lang.Integer) =>
        if (enc == null || enc < 0 || enc >= encodings.length) null
        else encodings(enc))

      // single-role engine: the session user's pseudo-OID resolves, any
      // other OID renders like the reference (PgGetUserByIdFunction)
      val sessionUser = spark.sparkContext.sparkUser
      val userOid = graft.sources.PgCatalog.oid(sessionUser)
      u.register("pg_get_userbyid", (roleOid: java.lang.Integer) =>
        if (roleOid == null) null
        else if (roleOid.intValue == userOid) sessionUser
        else s"unknown (OID=$roleOid)")

      // PK constraint OIDs render their definition
      // (PgGetConstraintDefFunction.renderPrimaryKey); unknown OIDs → null
      val constraintDefs: Map[Int, String] =
        graft.sources.InformationSchema.primaryKeys.map { case (t, cols) =>
          graft.sources.PgCatalog.oid(s"${t}_pkey") ->
            s"PRIMARY KEY (${cols.mkString(", ")})"
        }
      u.register("pg_get_constraintdef", (oid: java.lang.Integer) =>
        if (oid == null) null else constraintDefs.get(oid.intValue).orNull)

      // format_type(oid, typemod): wire OID → PG display name; array OIDs
      // render inner[] (FormatTypeFunction.java); unknown → '???'
      val typeNames = Map(
        16 -> "bool", 17 -> "bytea", 20 -> "int8", 21 -> "int2",
        23 -> "int4", 25 -> "text", 114 -> "json", 700 -> "float4",
        701 -> "float8", 1043 -> "varchar", 1082 -> "date",
        1114 -> "timestamp", 1184 -> "timestamptz", 1700 -> "numeric",
        2249 -> "record")
      val arrayTypeNames = Map(
        1000 -> "bool[]", 1007 -> "int4[]", 1009 -> "text[]",
        1016 -> "int8[]", 1021 -> "float4[]", 1022 -> "float8[]",
        2287 -> "record[]")
      u.register("format_type", (oid: java.lang.Integer, mod: java.lang.Integer) =>
        if (oid == null) null
        else typeNames.get(oid.intValue)
          .orElse(arrayTypeNames.get(oid.intValue))
          .getOrElse("???"))

      // pg_sleep really sleeps (PgSleepFunction), returns null like PG
      u.register("pg_sleep", (seconds: java.lang.Double) => {
        if (seconds != null && seconds > 0)
          Thread.sleep((seconds * 1000).toLong)
        null: String
      })
    }

    // native codegen'd vector expressions (graft.plans.VectorExpressions) —
    // registered in the Catalyst function registry so both SQL and
    // functions.call_function can reach them.
    val reg = spark.sessionState.functionRegistry

    // array_position(arr, val[, start]) — the reference's semantics
    // (ArrayPositionFunction.java:80-115) differ from Spark's builtin in
    // three ways the shim restores: absent → NULL (Spark returns 0), a
    // NULL target value matches NULL elements (Objects.equals; Spark
    // returns NULL), and the optional 1-based start (NULL start → whole
    // array, start outside [1, size] → NULL). Registered as a TEMPLATE of
    // native higher-order expressions (transform/filter/get) so any
    // element type works and the whole thing stays codegen-composable —
    // a typed Scala UDF would pin one element type and break codegen.
    locally {
      val parser = spark.sessionState.sqlParser
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      // inside lambda BODIES the parser wraps every identifier as an
      // UnresolvedNamedLambdaVariable — placeholders must match both forms
      import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
      val find =
        "get(filter(transform(__arr, (x, i) -> IF(x <=> __v, i + 1, " +
          "CAST(NULL AS INT))), p -> p IS NOT NULL), 0)"
      val findFrom =
        "get(filter(transform(__arr, (x, i) -> IF(x <=> __v AND i + 1 >= __s, " +
          "i + 1, CAST(NULL AS INT))), p -> p IS NOT NULL), 0)"
      val tpl3 =
        s"CASE WHEN __s IS NULL THEN $find " +
          s"WHEN __s < 1 OR __s > size(__arr) THEN CAST(NULL AS INT) " +
          s"ELSE $findFrom END"
      reg.createOrReplaceTempFunction("array_position", { exprs =>
        require(exprs.length == 2 || exprs.length == 3,
          "array_position(arr, val[, start])")
        parser.parseExpression(if (exprs.length == 3) tpl3 else find).transformUp {
          case a: UnresolvedAttribute if a.name == "__arr" => exprs(0)
          case a: UnresolvedAttribute if a.name == "__v"   => exprs(1)
          case a: UnresolvedAttribute if a.name == "__s"   => exprs(2)
          case v: UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__arr") => exprs(0)
          case v: UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__v") => exprs(1)
          case v: UnresolvedNamedLambdaVariable
              if v.nameParts == Seq("__s") => exprs(2)
        }
      }, "scala_udf")
    }

    reg.createOrReplaceTempFunction("graft_cosine",
      exprs => graft.plans.CosineSimilarityExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => graft.plans.DotProductExpr(exprs(0), exprs(1)), "scala_udf")
    def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      e.eval(null) match {
        case i: Int  => i
        case l: Long => l.toInt
        case other   => throw new IllegalArgumentException(
          s"graft_minhash_bands expects integer literals, got $other")
      }
    reg.createOrReplaceTempFunction("graft_minhash_bands",
      exprs => graft.plans.MinHashBandsExpr(exprs(0),
        litInt(exprs(1)), litInt(exprs(2)), litInt(exprs(3))), "scala_udf")
    // row-local Gopher repetition metric (TopBigramShareExpr); null text
    // is 0.0 — the metric's convention on both the batch and stream paths
    reg.createOrReplaceTempFunction("graft_top_bigram_share",
      exprs => {
        import org.apache.spark.sql.catalyst.expressions.{Coalesce, Literal}
        Coalesce(Seq(graft.plans.TopBigramShareExpr(exprs(0)), Literal(0.0)))
      }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_shingles",
      exprs => graft.plans.ShingleArrayExpr(exprs(0), litInt(exprs(1))),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_jaccard_sorted",
      exprs => graft.plans.JaccardSortedExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash",
      exprs => graft.plans.SimHashExpr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_fingerprint",
      exprs => graft.plans.FingerprintExpr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("blake3",
      exprs => graft.plans.Blake3Expr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("repair_mojibake",
      exprs => graft.plans.MojibakeRepairExpr(exprs(0)), "scala_udf")
    // TIME WITH TIME ZONE (reference TimeTZ.java / TimeTZParser.java):
    // value = STRUCT<micros, offset_sec>, whose struct ordering IS the
    // reference's (micros, offset) compare. `timetz(s)` parses (offsets
    // only — named zones rejected as clock-dependent), `timetz_format`
    // renders the reference display form.
    // one struct-returning expression = ONE parse per row (ADVICE r12;
    // the earlier CreateNamedStruct-of-two-components form parsed the
    // same string twice per row)
    reg.createOrReplaceTempFunction("timetz",
      exprs => graft.plans.TimeTzParseExpr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("timetz_format", { exprs =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      import org.apache.spark.sql.catalyst.expressions.Literal
      require(exprs.length == 1, "timetz_format(timetz)")
      graft.plans.TimeTzFormatExpr(
        UnresolvedExtractValue(exprs(0), Literal("micros")),
        UnresolvedExtractValue(exprs(0), Literal("offset_sec")))
    }, "scala_udf")
    // BIT(n) explicit cast (reference BitStringType.explicitCast /
    // BitString.ofRawBits; BitStringTypeTest): the WHOLE input must be
    // 0/1 (ofRawBits errors on anything else), then the value TRIMS to n
    // when longer and EXTENDS with zero bits when shorter — the
    // reference's test pins both directions ("1111"→bit(3)→"111",
    // "111"→bit(4)→"1110"). Built from codegen'd builtins
    // (rlike/substring/rpad/raise_error), no UDF layer. (INSERT into a
    // BIT(n) COLUMN still requires the exact length — valueForInsert —
    // via the router's write-time check, like the reference.)
    reg.createOrReplaceTempFunction("graft_bit_cast", { exprs =>
      import org.apache.spark.sql.catalyst.expressions._
      require(exprs.length == 2, "graft_bit_cast(text, length)")
      val n = exprs(1).eval(null) match {
        case i: Int => i; case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"bit length must be an integer literal, got $other")
      }
      val s = exprs(0)
      If(IsNull(s), Literal.create(null, org.apache.spark.sql.types.StringType),
        If(RLike(s, Literal("^[01]*\\z")), // \z: Java's $ would accept a trailing newline
          StringRPad(Substring(s, Literal(1), Literal(n)), Literal(n),
            Literal("0")),
          RaiseError(Concat(Seq(
            Literal("value ["), s,
            Literal(s"] cannot be cast to bit($n): a bit string must " +
              "only contain 0 or 1"))))))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("unicode_normalize",
      exprs => graft.plans.UnicodeNormalizeExpr(exprs(0), exprs(1)), "scala_udf")
    // The reference's INTERVAL string grammar (IntervalParser.java:58 —
    // numeric-seconds / ISO-8601 / SQL-standard / PG-verbose cascade):
    // `graft_interval` yields a CalendarInterval (timestamp ± works
    // natively), `graft_interval_parts` the (months, days, micros)
    // struct for exact gating. `'…'::interval` routes here (Dialect).
    // optional 2nd/3rd args = the typed-literal precision slots
    // (INTERVAL '…' HOUR TO MINUTE → graft_interval(s,'hour','minute'))
    def ivPrec(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
               i: Int): Option[String] =
      exprs.lift(i).map(_.eval(null) match {
        case u: org.apache.spark.unsafe.types.UTF8String =>
          u.toString.toLowerCase
        case other => throw new IllegalArgumentException(
          s"interval precision must be a string literal, got $other")
      })
    reg.createOrReplaceTempFunction("graft_interval",
      exprs => graft.plans.IntervalParseExpr(exprs(0), ivPrec(exprs, 1),
        ivPrec(exprs, 2)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_interval_parts",
      exprs => graft.plans.IntervalPartsExpr(exprs(0), ivPrec(exprs, 1),
        ivPrec(exprs, 2)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_interval_format",
      exprs => graft.plans.IntervalFormatExpr(exprs(0)), "scala_udf")
    // the reference's array_set (ArraySetFunction), BOTH overloads:
    // (array, indexes int[], values[]) with append + NULL-padding past
    // the end and loud index<=0 / size-mismatch, and (array, int,
    // value) with strict-null index — r14: replaces the bigint-only UDF
    reg.createOrReplaceTempFunction("array_set",
      exprs => graft.plans.GraftArraySetExpr(exprs(0), exprs(1), exprs(2)),
      "scala_udf")
    // the reference's lpad/rpad (StringPaddingFunction): 50000-len
    // guard, '' on len<=0, str unchanged on empty fill, cyclic fill;
    // default fill ' ' when the third argument is omitted
    reg.createOrReplaceTempFunction("graft_lpad",
      exprs => graft.plans.GraftPadExpr(exprs(0), exprs(1),
        if (exprs.length > 2) exprs(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(" "),
        leftPad = true), "scala_udf")
    reg.createOrReplaceTempFunction("graft_rpad",
      exprs => graft.plans.GraftPadExpr(exprs(0), exprs(1),
        if (exprs.length > 2) exprs(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(" "),
        leftPad = false), "scala_udf")
    // the reference's date_trunc (DateTruncFunction): the 3-arg
    // timezone form truncates the instant in the GIVEN zone (wall-clock
    // trunc in tz, result back as the instant), and a literal interval
    // outside the reference grammar is LOUD at plan time with the
    // reference's message — Spark's native returns NULL there
    reg.createOrReplaceTempFunction("date_trunc", { exprs =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => L,
        FromUTCTimestamp, ToUTCTimestamp, TruncTimestamp}
      val valid = Set("second", "minute", "hour", "day", "week", "month",
        "quarter", "year")
      exprs(0) match {
        case L(s: org.apache.spark.unsafe.types.UTF8String,
            org.apache.spark.sql.types.StringType)
            if !valid.contains(
              s.toString.toLowerCase(java.util.Locale.ROOT)) =>
          throw new IllegalArgumentException(
            s"invalid interval '$s' for scalar 'date_trunc'")
        case _ => ()
      }
      if (exprs.length == 3) {
        val ts = Cast(exprs(2), org.apache.spark.sql.types.TimestampType,
          Some("UTC"))
        ToUTCTimestamp(
          TruncTimestamp(exprs(0), FromUTCTimestamp(ts, exprs(1))),
          exprs(1))
      } else TruncTimestamp(exprs(0), exprs(1))
    }, "scala_udf")
    // information_schema._pg_expandarray (PgExpandArrayTest): a
    // set-returning (x = element, n = 1-based index) generator; the
    // schema-qualified spelling arrives as the flattened name the
    // Dialect's system-schema pass produces
    for (name <- Seq("graft_pg_expandarray", "_pg_expandarray",
        "information_schema__pg_expandarray"))
      reg.createOrReplaceTempFunction(name,
        exprs => graft.plans.PgExpandArrayGen(exprs(0)), "scala_udf")
    // PG string_to_array incl. the 3-arg null_string form (reference
    // StringToArrayFunction.java): literal separator, keep-empties,
    // per-char split on NULL separator, non-strict null_string
    reg.createOrReplaceTempFunction("string_to_array",
      exprs => graft.plans.StringToArrayExpr(exprs), "scala_udf")
    // the reference's regexp scalar family (scalar/regex/*): PG
    // first-match-unless-'g' replace (the Dialect renames SQL
    // regexp_replace here — Spark's native always replaces all),
    // the 7-arg regexp_instr position contract (Spark's 3rd arg is a
    // GROUP index, the reference's is the start position), and
    // regexp_count with a 1-based start (loud <1, 'g' rejected)
    reg.createOrReplaceTempFunction("graft_regexp_replace",
      exprs => graft.plans.GraftRegexpReplaceExpr(exprs), "scala_udf")
    reg.createOrReplaceTempFunction("regexp_instr",
      exprs => graft.plans.GraftRegexpInstrExpr(exprs), "scala_udf")
    reg.createOrReplaceTempFunction("regexp_count",
      exprs => graft.plans.GraftRegexpCountExpr(exprs), "scala_udf")
    // the reference's regex-match operators `~` / `~*`
    // (RegexpMatchOperator: full-string match; Lucene RegExp syntax
    // unless the pattern has PCRE features) — the Dialect rewrites the
    // operator spellings to these
    reg.createOrReplaceTempFunction("graft_regexp_match",
      exprs => graft.plans.RegexpMatchOpExpr(exprs(0), exprs(1)),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_regexp_match_ci",
      exprs => graft.plans.RegexpMatchOpExpr(exprs(0), exprs(1), ci = true),
      "scala_udf")
    // the reference's interval ORDERING key (IntervalType.compare:
    // 30-day months, 365-DAY years — the code's formula, exact
    // arithmetic) as DECIMAL(38,0) micros — ORDER BY on it is the
    // reference's interval sort, distributed through Spark's native
    // range sort
    reg.createOrReplaceTempFunction("graft_interval_order",
      exprs => graft.plans.IntervalOrderKeyExpr(exprs(0)), "scala_udf")
    // the reference's interval arithmetic (IntervalArithmeticFunctions /
    // SubtractTimestampScalar): ± is FIELD-WISE joda Period::plus/minus
    // (no post-normalization), × is per-field int multiply with joda's
    // loud overflow THEN normalizedStandard, ts−ts returns a
    // days+time interval
    reg.createOrReplaceTempFunction("graft_interval_add",
      exprs => graft.plans.IntervalAddExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_interval_sub",
      exprs => graft.plans.IntervalAddExpr(exprs(0), exprs(1),
        negate = true), "scala_udf")
    reg.createOrReplaceTempFunction("graft_interval_mul",
      exprs => graft.plans.IntervalMulExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_ts_diff",
      exprs => graft.plans.TsDiffExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_interval_from_micros",
      exprs => graft.plans.IntervalFromMicrosExpr(exprs(0)), "scala_udf")
    // the reference's CIDR containment operator `ip << 'cidr'`
    // (CIDROperator.containedWithin — strict IPv4/IPv6, loud on
    // malformed operands); the Dialect rewrites `<<` here
    reg.createOrReplaceTempFunction("graft_contained_within",
      exprs => graft.plans.CidrContainedWithinExpr(exprs(0), exprs(1)),
      "scala_udf")
    // the reference's IP total order (IpType.compare =
    // Arrays.compareUnsigned over address bytes) as a BINARY sort key —
    // correct across mixed IPv4/IPv6 columns, unlike the numeric
    // IPv4-only ipOrderKey
    reg.createOrReplaceTempFunction("graft_ip_sortkey",
      exprs => graft.plans.IpSortKeyExpr(exprs(0)), "scala_udf")
    // the reference's TIMESTAMP cast (TimestampType.implicitCast):
    // 2nd arg = with-time-zone flag (bare `timestamp` is without)
    reg.createOrReplaceTempFunction("graft_ts_cast",
      exprs => graft.plans.TimestampCastExpr(exprs(0),
        exprs.lift(1).exists(_.eval(null) == true)), "scala_udf")
    // the reference's DATE and BOOLEAN casts (DateType/BooleanType
    // implicitCast): grammar-first dates with epoch-millis fallback and
    // truncation-to-day; the PG boolean map incl. on/off, loud, with
    // numbers true iff strictly positive
    reg.createOrReplaceTempFunction("graft_date_cast",
      exprs => graft.plans.DateCastExpr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_bool_cast",
      exprs => graft.plans.BoolCastExpr(exprs(0)), "scala_udf")
    // the reference's substr/substring (SubstrFunction.java): CLAMP
    // semantics (begin ≤ 1 clamps to the start — NOT Spark's from-the-
    // end negatives), '' past the end, loud negative length, plus the
    // (string, string) REGEX-EXTRACT overload. Overrides the builtins
    // for SQL-resolved calls; the DataFrame .substr API keeps Spark's.
    for (name <- Seq("substr", "substring"))
      reg.createOrReplaceTempFunction(name,
        exprs => graft.plans.CrateSubstrExpr(exprs), "scala_udf")
    // ltrim/rtrim(text[, trimmingText]) — the reference/PG argument
    // order (TrimFunctions.java registers (text, trimmingText); the
    // docs corpus caught that Spark's SQL builtins take the 2-arg form
    // REVERSED as (trimStr, srcStr), silently trimming the wrong
    // operand). 1-arg forms are identical.
    reg.createOrReplaceTempFunction("ltrim",
      exprs => org.apache.spark.sql.catalyst.expressions.StringTrimLeft(
        exprs(0), exprs.lift(1)), "scala_udf")
    reg.createOrReplaceTempFunction("rtrim",
      exprs => org.apache.spark.sql.catalyst.expressions.StringTrimRight(
        exprs(0), exprs.lift(1)), "scala_udf")
    // the reference's left/right NEGATIVE-length (all-but-N) semantics,
    // chr's loud code-point range, and split_part's loud 1-based /
    // empty-delimiter-is-no-split contract (StringLeftRightFunction /
    // ChrFunction / StringSplitPartFunction — Spark's builtins return
    // '' on negative lengths, wrap chr modulo 256, and split '' into
    // characters). Overrides the SQL-resolved names; DataFrame-API
    // calls keep Spark's.
    reg.createOrReplaceTempFunction("left",
      exprs => graft.plans.GraftLeftRightExpr(exprs(0), exprs(1),
        leftSide = true), "scala_udf")
    reg.createOrReplaceTempFunction("right",
      exprs => graft.plans.GraftLeftRightExpr(exprs(0), exprs(1),
        leftSide = false), "scala_udf")
    reg.createOrReplaceTempFunction("chr",
      exprs => graft.plans.GraftChrExpr(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("split_part",
      exprs => graft.plans.GraftSplitPartExpr(exprs(0), exprs(1),
        exprs(2)), "scala_udf")
    // the reference's null-SKIPPING concat() (PG behavior; `||` stays
    // strict-null) — the Dialect renames SQL `concat(` here
    // concat(array, array) IS the null-skipping array_cat
    // (ConcatFunction.java:68 registers ArrayCatFunction under the
    // `concat` name) — peel arrays off at the builder, where the
    // returned tree still gets analyzer type coercion; scalar/object
    // argument lists keep GraftConcatExpr's dispatch
    locally {
      import org.apache.spark.sql.catalyst.expressions.{
        Coalesce, Concat, CreateArray, Expression, Literal}
      import org.apache.spark.sql.types.{ArrayType, MapType, NullType}
      def nzA(e: Expression): Expression =
        Coalesce(Seq(e, CreateArray(Seq.empty)))
      // OBJECT literals land as STRUCTS — first-level merge with the
      // right side winning (ObjectMergeFunction), computed statically
      // over the known field lists. NullType operands are skipped like
      // the reference's null inputs; dynamic OBJECT columns are MAPs
      // and take the GraftObjectMergeExpr path instead.
      def structMerge(parts0: Seq[Expression]): Expression = {
        import org.apache.spark.sql.catalyst.expressions.{
          CreateNamedStruct, GetStructField}
        import org.apache.spark.sql.types.StructType
        val parts = parts0.filterNot(_.dataType == org.apache.spark.sql.types.NullType)
        val fields = scala.collection.mutable.LinkedHashMap[String, Expression]()
        parts.foreach { p =>
          p.dataType.asInstanceOf[StructType].fields.zipWithIndex.foreach {
            case (f, i) => fields(f.name) = GetStructField(p, i, Some(f.name))
          }
        }
        CreateNamedStruct(fields.toSeq.flatMap { case (n, e) =>
          Seq(Literal(n), e)
        })
      }
      def isStructish(e: Expression) =
        e.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] ||
          e.dataType == org.apache.spark.sql.types.NullType
      reg.createOrReplaceTempFunction("graft_concat",
        exprs =>
          if (exprs.exists(_.dataType.isInstanceOf[ArrayType]))
            Concat(exprs.map(nzA))
          else if (exprs.exists(
              _.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]) &&
              exprs.forall(isStructish))
            structMerge(exprs)
          else graft.plans.GraftConcatExpr(exprs), "scala_udf")
      // the `||` OPERATOR's type-dispatched family (op_|| in
      // ConcatFunction.java; the parser lowers `a || b` to op_|| —
      // AstBuilder.visitConcatenation — and Dialect.passPipeConcat
      // routes it here): strings stay STRICT-null (== Spark's own
      // Concat; StringConcatFunction's operator registration carries
      // Feature.STRICTNULL), arrays null-skip (ArrayCatFunction),
      // array||element APPENDS with a null element IGNORED
      // (ArrayAppendFunction calledByOperator), element||array
      // prepends likewise, object||object merges first-level keys.
      // `[1,2] || NULL` is ambiguous between the cat and append arms
      // in the reference but both leave the array unchanged, so the
      // untyped-NULL case dispatches to the cat arm.
      reg.createOrReplaceTempFunction("graft_op_concat",
        exprs => {
          require(exprs.length == 2,
            s"|| takes exactly 2 operands, got ${exprs.length}")
          import org.apache.spark.sql.catalyst.expressions.{
            ArrayAppend, ArrayPrepend, If, IsNull}
          val (l, r) = (exprs(0), exprs(1))
          (l.dataType, r.dataType) match {
            case (_: ArrayType, _: ArrayType) | (_: ArrayType, NullType) |
                 (NullType, _: ArrayType) =>
              Concat(Seq(nzA(l), nzA(r)))
            case (_: ArrayType, _) =>
              If(IsNull(r), nzA(l), ArrayAppend(nzA(l), r))
            case (_, _: ArrayType) =>
              If(IsNull(l), nzA(r), ArrayPrepend(nzA(r), l))
            case (_: MapType, _) | (_, _: MapType) =>
              graft.plans.GraftConcatExpr(Seq(l, r))
            case (_: org.apache.spark.sql.types.StructType, _) |
                 (_, _: org.apache.spark.sql.types.StructType)
                 if exprs.forall(isStructish) =>
              structMerge(exprs)
            case _ =>
              // strict-null scalar concatenation — exactly Spark's
              // `||`; ConcatCoercion casts mixed scalars to STRING
              Concat(Seq(l, r))
          }
        }, "scala_udf")
    }
    // the reference's math edges (arithmetic/ package): log(x) is BASE
    // 10 with the VALUE-FIRST two-arg form, log/ln/sqrt are LOUD on
    // out-of-domain inputs, 1-arg round is Math.round (ties toward +∞,
    // integral result); 2-arg round keeps Spark's builtin
    def toD(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.DoubleType, Some("UTC"))
    reg.createOrReplaceTempFunction("sqrt",
      exprs => graft.plans.CrateMathExpr(toD(exprs(0)), "sqrt"), "scala_udf")
    reg.createOrReplaceTempFunction("ln",
      exprs => graft.plans.CrateMathExpr(toD(exprs(0)), "ln"), "scala_udf")
    reg.createOrReplaceTempFunction("log",
      exprs =>
        if (exprs.size >= 2)
          graft.plans.CrateLogBaseExpr(toD(exprs(0)), toD(exprs(1)))
        else graft.plans.CrateMathExpr(toD(exprs(0)), "log10"), "scala_udf")
    reg.createOrReplaceTempFunction("round",
      exprs => {
        require(exprs.size <= 2,
          s"round takes 1 or 2 arguments, got ${exprs.size}")
        if (exprs.size == 2)
          org.apache.spark.sql.catalyst.expressions.Round(exprs(0), exprs(1))
        else graft.plans.CrateRoundExpr(exprs(0))
      }, "scala_udf")
    // value→TEXT with the reference's boolean rendering ('t'/'f' —
    // StringTypeTest); non-boolean inputs keep Spark's Cast codegen
    reg.createOrReplaceTempFunction("graft_to_text",
      exprs => graft.plans.ToTextExpr(exprs(0)), "scala_udf")
    // the reference's IP cast: validate+normalize strings, render
    // numbers as dotted quads (IpType.implicitCast)
    reg.createOrReplaceTempFunction("graft_ip_cast",
      exprs => graft.plans.IpCastExpr(exprs(0)), "scala_udf")
    // the reference's `#` bitwise-xor operator (Dialect lowers it here;
    // its `^` spelling is POWER, so Spark's ^ operator is never emitted)
    reg.createOrReplaceTempFunction("graft_bitxor",
      exprs => org.apache.spark.sql.catalyst.expressions.BitwiseXor(
        exprs(0), exprs(1)), "scala_udf")
    // PG object-identifier casts (types/RegclassType, RegprocType,
    // Regtype): names resolve to the pg_catalog oid scheme so
    // introspection joins (`attrelid = 'tbl'::regclass`) line up
    for (k <- Seq("regclass", "regproc", "regtype"))
      reg.createOrReplaceTempFunction(s"graft_${k}_cast",
        exprs => graft.plans.RegOidCastExpr(exprs(0), k), "scala_udf")
    // ::json (types/JsonType.explicitCast): objects/arrays render to
    // their JSON string, strings pass through, scalars render as
    // JSON literals
    reg.createOrReplaceTempFunction("graft_json_cast",
      exprs => {
        val e = exprs(0)
        import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        import org.apache.spark.sql.types.{ArrayType, MapType, NullType, StructType}
        e.dataType match {
          case _: MapType | _: StructType | _: ArrayType =>
            UnresolvedFunction(Seq("to_json"), Seq(e), isDistinct = false)
          case org.apache.spark.sql.types.StringType | NullType => e
          case _ =>
            // scalars render as JSON literals — Spark's string cast
            // says true/false (NOT the PG 't'/'f' text rendering)
            org.apache.spark.sql.catalyst.expressions.Cast(e,
              org.apache.spark.sql.types.StringType, Some("UTC"))
        }
      }, "scala_udf")

    // CrateDB array-bound / emptiness scalars as pure Catalyst compositions
    // (codegen'd, no UDF): null_or_empty covers BOTH the OBJECT and ARRAY
    // reference signatures (NullOrEmptyFunction.java:57) — type-aware, since
    // OBJECT literals land as structs where only the null test applies;
    // array_lower/array_upper support dimension 1 (Spark
    // arrays are 1-D; nested-array dims return NULL, documented in
    // COVERAGE.md) per ArrayLowerFunction.java:76 / ArrayUpperFunction.
    {
      import org.apache.spark.sql.catalyst.expressions.{
        And, CaseWhen, EqualTo, GreaterThan, Literal, Size}
      import org.apache.spark.sql.types.IntegerType
      reg.createOrReplaceTempFunction("null_or_empty",
        exprs => graft.plans.NullOrEmptyExpr(exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("graft_dim_match",
        exprs => graft.plans.DimMatchExpr(exprs(0), exprs(1)), "scala_udf")
      reg.createOrReplaceTempFunction("array_lower",
        exprs => CaseWhen(Seq((And(EqualTo(exprs(1), Literal(1)),
          GreaterThan(Size(exprs(0)), Literal(0))), Literal(1))),
          Literal(null, IntegerType)), "scala_udf")
      reg.createOrReplaceTempFunction("array_upper",
        exprs => CaseWhen(Seq((And(EqualTo(exprs(1), Literal(1)),
          GreaterThan(Size(exprs(0)), Literal(0))), Size(exprs(0)))),
          Literal(null, IntegerType)), "scala_udf")
      // CrateDB/PG argument order array_prepend(value, array)
      // (ArrayPrependFunction.java:47) — the Dialect renames to this twin.
      // NULL-array args are EMPTY for the append/prepend/cat/unique
      // family (ArrayAppendFunctionTest `array_append(null, 1)` → [1],
      // ArrayPrependFunctionTest `array_prepend(1, null)` → [1],
      // ArrayCatFunctionTest `array_cat([1,2,3], null)` → [1,2,3] —
      // the reference registers them NOTNULL and skips null inputs),
      // unlike Spark's strict-null builtins.
      import org.apache.spark.sql.catalyst.expressions.{
        ArrayAppend, ArrayPrepend, Coalesce, Concat, CreateArray,
        EqualNullSafe, Expression, LambdaFunction, Not,
        UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      def nzArr(a: Expression): Expression =
        Coalesce(Seq(a, CreateArray(Seq.empty)))
      def callF(name: String, args: Expression*) =
        UnresolvedFunction(Seq(name), args.toSeq, isDistinct = false)
      reg.createOrReplaceTempFunction("graft_array_prepend",
        exprs => ArrayPrepend(nzArr(exprs(1)), exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("array_append",
        exprs => ArrayAppend(nzArr(exprs(0)), exprs(1)), "scala_udf")
      reg.createOrReplaceTempFunction("graft_array_cat",
        exprs => {
          require(exprs.length == 2,
            s"array_cat takes exactly 2 arguments, got ${exprs.length}" +
              " (ArrayCatFunction signature: (array(E), array(E)))")
          Concat(Seq(nzArr(exprs(0)), nzArr(exprs(1))))
        }, "scala_udf")
      // array_unique(a[, b]) — union-dedup, first-seen order, null args
      // skipped (ArrayUniqueFunction.java evaluate loop)
      reg.createOrReplaceTempFunction("graft_array_unique",
        exprs => {
          require(exprs.length == 1 || exprs.length == 2,
            s"array_unique takes 1 or 2 arguments, got ${exprs.length}")
          val unioned =
            if (exprs.length == 1) nzArr(exprs(0))
            else Concat(Seq(nzArr(exprs(0)), nzArr(exprs(1))))
          callF("array_distinct", unioned)
        }, "scala_udf")
      // array_difference(a, b) — remove from a every element present in
      // b, KEEPING duplicates and order (ArrayDifferenceFunction.java:
      // per-element subtract-set membership — NOT Spark's deduping
      // array_except); strict-null on a only, null b is empty
      reg.createOrReplaceTempFunction("graft_array_difference",
        exprs => {
          require(exprs.length == 2,
            s"array_difference takes exactly 2 arguments, got ${exprs.length}")
          val x = UnresolvedNamedLambdaVariable(Seq("x"))
          val e = UnresolvedNamedLambdaVariable(Seq("e"))
          callF("filter", exprs(0), LambdaFunction(
            Not(callF("exists", nzArr(exprs(1)),
              LambdaFunction(EqualNullSafe(e, x), Seq(e)))), Seq(x)))
        }, "scala_udf")
      // array_to_string(arr, sep[, null_string]) — a NULL null_string
      // means SKIP nulls like the 2-arg form (ArrayToStringFunction
      // .java null handling; Spark's 3-arg array_join is strict)
      reg.createOrReplaceTempFunction("graft_array_to_string",
        exprs => {
          require(exprs.length == 2 || exprs.length == 3,
            s"array_to_string takes 2 or 3 arguments, got ${exprs.length}")
          val nullRepl = exprs.lift(2).filterNot(e =>
            e.foldable && e.eval() == null)
          org.apache.spark.sql.catalyst.expressions.ArrayJoin(
            exprs(0), exprs(1), nullRepl)
        }, "scala_udf")
      // generate_subscripts(arr, dim[, reverse]) as a SCALAR array of
      // the valid subscripts for the requested dimension (reference
      // tablefunctions/GenerateSubscripts.java — deeper dimensions are
      // measured on the first non-null element, arrays assumed
      // rectangular like the reference); the Dialect lowers the
      // table-function spelling to explode() over this
      reg.createOrReplaceTempFunction("graft_generate_subscripts",
        exprs => {
          require(exprs.length >= 2 && exprs.length <= 3,
            s"generate_subscripts takes 2 or 3 arguments, got ${exprs.length}")
          require(exprs(1).foldable,
            "generate_subscripts dimension must be a literal")
          val dim = exprs(1).eval() match {
            case n: Number => n.intValue
            case other => throw new IllegalArgumentException(
              s"generate_subscripts dimension must be an integer, got $other")
          }
          require(dim >= 1 && dim <= 3,
            s"generate_subscripts supports dimensions 1-3, got $dim")
          var arr: org.apache.spark.sql.catalyst.expressions.Expression = exprs(0)
          for (_ <- 1 until dim) {
            val e = UnresolvedNamedLambdaVariable(Seq("e"))
            arr = callF("element_at",
              callF("filter", arr,
                LambdaFunction(
                  org.apache.spark.sql.catalyst.expressions.IsNotNull(e), Seq(e))),
              Literal(1))
          }
          val size = callF("size", arr)
          val seq = CaseWhen(Seq((
            org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
              size, Literal(1)),
            callF("sequence", Literal(1), size))),
            callF("array"))
          val rev = exprs.lift(2).exists(e =>
            e.foldable && e.eval() == true)
          if (rev) callF("reverse", seq) else seq
        }, "scala_udf")
      // _map(k, v, ...) — the reference's pairwise OBJECT constructor
      // (arithmetic/MapFunction.java; object literals lower to it and
      // it is user-callable): keys stringify (`_map(10, 2)` →
      // {"10": 2}), odd arity is loud
      reg.createOrReplaceTempFunction("_map",
        exprs => {
          require(exprs.length >= 2 && exprs.length % 2 == 0,
            s"_map requires (key, value) pairs, got ${exprs.length} arguments")
          val kv = exprs.grouped(2).flatMap { p =>
            Seq(org.apache.spark.sql.catalyst.expressions.Cast(p(0),
              org.apache.spark.sql.types.StringType, Some("UTC")), p(1))
          }.toSeq
          callF("map", kv: _*)
        }, "scala_udf")
      // array_overlap(a, b) — `!Collections.disjoint` (ArrayOverlap
      // Function.java:48): null ELEMENTS match each other, unlike
      // Spark's arrays_overlap 3VL; null ARRAY args stay strict-null
      // (exists over a null array is NULL, and an all-NULL predicate
      // column keeps the outer exists NULL)
      reg.createOrReplaceTempFunction("graft_array_overlap",
        exprs => {
          val x = UnresolvedNamedLambdaVariable(Seq("x"))
          val e = UnresolvedNamedLambdaVariable(Seq("e"))
          callF("exists", exprs(0), LambdaFunction(
            callF("exists", exprs(1),
              LambdaFunction(EqualNullSafe(e, x), Seq(e))), Seq(x)))
        }, "scala_udf")
    }

    // CrateDB array summary / reshaping scalars as pure analyzer-resolvable
    // compositions over Spark's higher-order functions (codegen'd end to
    // end, no UDF). Null/empty contracts follow the reference:
    //   array_sum/array_avg   — null array OR empty array → null; nulls
    //                           inside the array ignored (ArraySumFunction
    //                           .java:95, ArrayAvgFunction.java:60)
    //   array_unnest          — one-level flatten, null inner arrays skipped
    //                           (ArrayUnnestFunction.java:84)
    //   collection_count      — element count incl. nulls (CollectionCount
    //                           Function.java:60)
    //   array_slice           — 1-based inclusive [from,to], to clamped
    //                           (ArraySliceFunction.java:71)
    // The `aggregate` zero is `try_element_at(arr, size(arr)+1)` — a NULL
    // literal carrying the array's element type — PLUS `0L`, which makes
    // the analyzer promote the accumulator: integral elements widen to
    // BIGINT (the reference's ArraySumFunction.java registers every
    // integral element type with a BIGINT return, so ARRAY<INT> sums must
    // not overflow at 2^31), while float/double/decimal elements keep their
    // fractional type (numeric widening picks the fractional side). NULL+0
    // stays NULL, so empty/all-null arrays still sum to NULL.
    {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      import org.apache.spark.sql.catalyst.expressions.{
        Add, Cast, If, IsNotNull, IsNull, LambdaFunction, Literal, Subtract,
        UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.types.{DoubleType, LongType}

      def call(name: String, args: org.apache.spark.sql.catalyst.expressions.Expression*) =
        UnresolvedFunction(Seq(name), args.toSeq, isDistinct = false)
      def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      def nonNull(a: org.apache.spark.sql.catalyst.expressions.Expression) = {
        val e = lv("e"); call("filter", a, LambdaFunction(IsNotNull(e), Seq(e)))
      }
      def typedNull(a: org.apache.spark.sql.catalyst.expressions.Expression) =
        call("try_element_at", a, Add(call("size", a), Literal(1)))
      def sumExpr(a: org.apache.spark.sql.catalyst.expressions.Expression) = {
        val acc = lv("acc"); val e = lv("e")
        a.dataType match {
          case org.apache.spark.sql.types.ArrayType(
              d: org.apache.spark.sql.types.DecimalType, _) =>
            // decimal addition GROWS precision, which `aggregate`
            // rejects (merge must return the accumulator type) — pin
            // the accumulator at the NUMERIC ceiling (38, scale), the
            // reference's documented numeric bound
            val wide = org.apache.spark.sql.types.DecimalType(38, d.scale)
            call("aggregate", nonNull(a),
              Cast(Add(typedNull(a), Literal(0L)), wide, Some("UTC")),
              LambdaFunction(
                Cast(If(IsNull(acc), e, Add(acc, e)), wide, Some("UTC")),
                Seq(acc, e)))
          case _ =>
            call("aggregate", nonNull(a), Add(typedNull(a), Literal(0L)),
              LambdaFunction(If(IsNull(acc), e, Add(acc, e)), Seq(acc, e)))
        }
      }
      def avgExpr(a: org.apache.spark.sql.catalyst.expressions.Expression) =
        org.apache.spark.sql.catalyst.expressions.Divide(
          Cast(sumExpr(a), DoubleType), Cast(call("size", nonNull(a)), DoubleType))

      reg.createOrReplaceTempFunction("array_sum",
        exprs => sumExpr(exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("array_avg",
        exprs => avgExpr(exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("collection_avg",
        exprs => avgExpr(exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("collection_mean",
        exprs => avgExpr(exprs(0)), "scala_udf")
      reg.createOrReplaceTempFunction("collection_count",
        exprs => Cast(call("size", exprs(0)), LongType), "scala_udf")
      reg.createOrReplaceTempFunction("array_unnest",
        exprs => call("flatten", nonNull(exprs(0))), "scala_udf")
      reg.createOrReplaceTempFunction("array_slice",
        exprs => call("slice", exprs(0), exprs(1),
          call("greatest", Add(Subtract(exprs(2), exprs(1)), Literal(1)), Literal(0))),
        "scala_udf")
      reg.createOrReplaceTempFunction("pg_typeof",
        exprs => graft.plans.PgTypeofExpr(exprs(0)), "scala_udf")
      // has_*_privilege([user,] object, privileges) — evaluated at plan
      // time against the role graph (reference scalar/Has*PrivilegeFunction
      // .java; privilege-string → permission mappings from each class's
      // parsePermissions). Args are catalog metadata, so requiring them
      // constant keeps the check a plan-time fold, like the reference's
      // per-query evaluation against cluster state — nothing ships to
      // executors. NULL args → NULL, as in PG.
      locally {
        import org.apache.spark.sql.types.BooleanType
        def privFn(name: String)(check: (String, String, Seq[String]) => Boolean,
                                 parse: String => Seq[String]): Unit =
          reg.createOrReplaceTempFunction(name, exprs => {
            val vals = exprs.map { e =>
              require(e.foldable,
                s"$name over non-constant arguments is not supported")
              Option(e.eval()).map(_.toString)
            }
            if (vals.exists(_.isEmpty)) Literal.create(null, BooleanType)
            else {
              val s = vals.map(_.get)
              val (user, obj, privs) =
                if (s.length == 2)
                  (graft.sources.Roles.sessionUser(
                    org.apache.spark.sql.SparkSession.active), s(0), s(1))
                else (s(0), s(1), s(2))
              Literal(graft.sources.Roles.isSuperuser(user) ||
                check(user, obj, parse(privs)))
            }
          }, "scala_udf")
        def csv(valid: Map[String, String])(privs: String): Seq[String] =
          privs.toLowerCase.split(",").toSeq.map(_.trim).map(p =>
            valid.getOrElse(p, throw new IllegalArgumentException(
              s"Unrecognized permission: $p")))
        val R = graft.sources.Roles
        // SELECT→DQL, INSERT/UPDATE/DELETE→DML (HasTablePrivilegeFunction:87)
        privFn("has_table_privilege")(
          (u, t, perms) => {
            val fqn = if (t.contains('.')) t else s"doc.$t"
            perms.exists(p => R.hasPrivilege(u, p, "TABLE", Some(fqn)))
          },
          csv(Map("select" -> "DQL", "insert" -> "DML", "update" -> "DML",
            "delete" -> "DML")))
        // CREATE→DDL, USAGE→DQL; pg_catalog/information_schema are public
        // (HasSchemaPrivilegeFunction:60,91)
        privFn("has_schema_privilege")(
          (u, sch, perms) => perms.exists(p =>
            (p == "DQL" && Seq("pg_catalog", "information_schema").contains(sch)) ||
              R.hasPrivilege(u, p, "SCHEMA", Some(sch))),
          csv(Map("create" -> "DDL", "usage" -> "DQL")))
        // CONNECT→always, TEMP→never, CREATE→any DDL at schema/cluster.
        // Order-INSENSITIVE like the reference's checkPrivileges
        // (HasDatabasePrivilegeFunction:81-107): it tests Collection
        // membership in a fixed sequence (CONNECT, then TEMP, then
        // CREATE), so 'temp,create' and 'create,temp' both resolve to
        // hasCreate — input order never matters.
        privFn("has_database_privilege")(
          (u, _, perms) => {
            def hasCreate = R.allPrivileges.exists(p =>
              p.state == "GRANT" && p.permission == "DDL" &&
                Seq("SCHEMA", "CLUSTER").contains(p.securable) &&
                (p.grantee == u || R.parentClosure(u).contains(p.grantee)))
            if (perms.contains("CONNECT")) true
            else {
              var r = true
              if (perms.contains("TEMP")) r = false
              if (perms.contains("CREATE")) r = hasCreate
              r
            }
          },
          csv(Map("connect" -> "CONNECT", "create" -> "CREATE",
            "temp" -> "TEMP", "temporary" -> "TEMP")))
        // EXECUTE→DQL on the function's schema; bare names are public
        // (HasFunctionPrivilegeFunction:75-119)
        privFn("has_function_privilege")(
          (u, fn, _) =>
            if (!fn.contains('.')) true
            else {
              val sch = fn.substring(0, fn.indexOf('.'))
              Seq("pg_catalog", "information_schema").contains(sch) ||
                R.hasPrivilege(u, "DQL", "SCHEMA", Some(sch))
            },
          csv(Map("execute" -> "DQL")))
      }
      reg.createOrReplaceTempFunction("pg_backend_pid",
        // the reference returns the CONSTANT -1 (PgBackendPidFunction:
        // there is no per-connection backend process) — not a real pid
        _ => Literal(-1), "scala_udf")
      // the effective session user — tracks SET SESSION AUTHORIZATION
      // (reference scalar/UserFunction.java: CURRENT_USER/SESSION_USER/
      // CURRENT_ROLE all resolve the session's authenticated user)
      Seq("current_user", "session_user", "current_role").foreach { n =>
        reg.createOrReplaceTempFunction(n, _ => Literal(
          graft.sources.Roles.sessionUser(
            org.apache.spark.sql.SparkSession.active)), "scala_udf")
      }
      reg.createOrReplaceTempFunction("current_setting",
        exprs => graft.plans.CurrentSettingExpr(exprs(0), exprs.drop(1).headOption),
        "scala_udf")

      // systeminformation/postgres scalar tail (reference
      // scalar/systeminformation/*, scalar/postgres/*): plan-time constants
      // and null-folds exactly where the reference is constant for a
      // single-user engine. All foldable — they vanish before execution.
      import org.apache.spark.sql.types.StringType
      def nullOr(arg: org.apache.spark.sql.catalyst.expressions.Expression,
                 out: org.apache.spark.sql.catalyst.expressions.Expression) =
        If(IsNull(arg), Literal.create(null, out.dataType), out)
      // CrateDB's default schema is `doc` (SessionSettings.currentSchema).
      // Aliased so an un-AS'd `SELECT current_schema()` names its column
      // like the reference does (the literal would otherwise name it 'doc')
      reg.createOrReplaceTempFunction("current_schema",
        _ => org.apache.spark.sql.catalyst.expressions.Alias(
          Literal("doc"), "current_schema")(), "scala_udf")
      // the single database/catalog is always 'crate'
      // (CurrentDatabaseFunction.java — current_database() and the
      // parenthesis-less CURRENT_CATALOG both resolve to it)
      Seq("current_database", "current_catalog").foreach { n =>
        reg.createOrReplaceTempFunction(n,
          _ => org.apache.spark.sql.catalyst.expressions.Alias(
            Literal("crate"), n)(), "scala_udf")
      }
      reg.createOrReplaceTempFunction("current_schemas",
        exprs => If(call("coalesce", exprs(0), Literal(false)),
          call("array", Literal("pg_catalog"), Literal("doc")),
          call("array", Literal("doc"))), "scala_udf")
      // comments are unsupported in the reference → always null
      // (ColDescriptionFunction, ObjDescriptionFunction); same for
      // pg_get_expr / pg_get_serial_sequence / pg_get_partkeydef
      Seq("col_description", "obj_description", "pg_get_expr",
        "pg_get_serial_sequence", "pg_get_partkeydef").foreach { n =>
        reg.createOrReplaceTempFunction(n,
          _ => Literal.create(null, StringType), "scala_udf")
      }
      // version(): clients parse the CrateDB-prefixed format
      // (VersionFunctionTest expects "CrateDB ..."); the suffix is
      // honest about the engine underneath
      reg.createOrReplaceTempFunction("version",
        _ => org.apache.spark.sql.catalyst.expressions.Alias(
          Literal("CrateDB 5.10.10 (graft; Apache Spark " +
            org.apache.spark.SPARK_VERSION + ")"), "version")(), "scala_udf")
      // pg_get_function_result: NULL for null/non-oid inputs
      // (PgGetFunctionResultFunctionTest's first two arms). The
      // reference renders a registered signature's return-type string
      // for live function oids; Spark's FunctionRegistry is untyped
      // (builders, not signatures), so that arm is not modeled —
      // introspection clients treat NULL as "no result type recorded",
      // same as the comment functions above.
      reg.createOrReplaceTempFunction("pg_get_function_result",
        _ => Literal.create(null, StringType), "scala_udf")
      // every registered relation/function is on the search path
      Seq("pg_table_is_visible", "pg_function_is_visible").foreach { n =>
        reg.createOrReplaceTempFunction(n,
          exprs => nullOr(exprs(0), Literal(true)), "scala_udf")
      }
      reg.createOrReplaceTempFunction("pg_postmaster_start_time",
        _ => Literal(java.time.Instant.ofEpochMilli(
          spark.sparkContext.startTime)), "scala_udf")
    }

    // Documented scalar tail (docs/general/builtins/scalar-functions.rst):
    // trunc / timezone / date_bin / date_format / age / encode / decode /
    // array_length / object_keys / vector_similarity — registered here so
    // the reference's SQL text resolves verbatim. Everything that can fold
    // to a native codegen'd expression does; only the BigDecimal tail of
    // 2-arg trunc and the calendar borrowing of age run as scalar UDFs.
    {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      import org.apache.spark.sql.catalyst.expressions.{
        And, CaseWhen, Cast, EqualTo, Expression, GreaterThan, Literal,
        Pmod, Size, Subtract}
      import org.apache.spark.sql.types.{
        BinaryType, CalendarIntervalType, DoubleType, IntegerType, LongType,
        StringType, TimestampType}
      import org.apache.spark.unsafe.types.UTF8String

      def call(name: String, args: Expression*) =
        UnresolvedFunction(Seq(name), args.toSeq, isDistinct = false)

      reg.createOrReplaceTempFunction("object_keys",
        exprs => graft.plans.ObjectKeysExpr(exprs(0)), "scala_udf")

      // PG/CrateDB array_length(arr, dim): 1-D arrays only (like
      // array_lower/array_upper above); empty arrays → NULL, dim ≠ 1 → NULL
      reg.createOrReplaceTempFunction("array_length",
        exprs => CaseWhen(Seq((And(EqualTo(exprs(1), Literal(1)),
          GreaterThan(Size(exprs(0)), Literal(0))), Size(exprs(0)))),
          Literal(null, IntegerType)), "scala_udf")

      // trunc(x) → integral truncation toward zero (TruncFunction.java:45
      // floor/ceil by sign == ANSI cast-to-integral); trunc(x, d) → DOUBLE
      // at d decimals via BigDecimal.setScale(d, toward-zero), the
      // reference's exact arithmetic (TruncFunction.createTruncWithMode)
      u.register("graft_trunc2", (x: java.lang.Double, d: java.lang.Integer) =>
        if (x == null || d == null) null
        else Double.box(java.math.BigDecimal.valueOf(x)
          .setScale(d, if (x >= 0) java.math.RoundingMode.FLOOR
                       else java.math.RoundingMode.CEILING)
          .doubleValue()))
      reg.createOrReplaceTempFunction("graft_trunc",
        exprs =>
          if (exprs.length == 1) Cast(exprs(0), LongType)
          else call("graft_trunc2", Cast(exprs(0), DoubleType),
            Cast(exprs(1), IntegerType)), "scala_udf")

      reg.createOrReplaceTempFunction("timezone",
        exprs => graft.plans.GraftTimezoneExpr(exprs(0), exprs(1)), "scala_udf")

      // the reference's FULL PG to_char template engine
      // (PGDateTimeTemplates + ToCharFunction): timestamp and INTERVAL
      // overloads, lowercase patterns, TH/th ordinal suffixes, quoted
      // literals; date/string operands implicit-cast to timestamp like
      // the reference's TIMESTAMPZ sanitize
      reg.createOrReplaceTempFunction("to_char",
        exprs => {
          val v = exprs(0)
          import org.apache.spark.sql.types.{
            CalendarIntervalType, DateType, DayTimeIntervalType,
            StringType => STy, TimestampNTZType, TimestampType,
            YearMonthIntervalType}
          v.dataType match {
            case CalendarIntervalType | TimestampType | TimestampNTZType |
                 _: YearMonthIntervalType | _: DayTimeIntervalType =>
              graft.plans.PgToCharExpr(v, exprs(1))
            case DateType =>
              graft.plans.PgToCharExpr(Cast(v,
                org.apache.spark.sql.types.TimestampNTZType, Some("UTC")),
                exprs(1))
            case STy =>
              graft.plans.PgToCharExpr(
                graft.plans.TimestampCastExpr(v, withTz = true), exprs(1))
            case _ =>
              graft.plans.PgToCharExpr(Cast(v,
                org.apache.spark.sql.types.TimestampNTZType, Some("UTC")),
                exprs(1))
          }
        }, "scala_udf")

      // date_bin(interval, ts, origin) — the interval must be a literal
      // (it always is in reference SQL; DateBinFunction.java:41). Pmod is
      // floor-aligned for timestamps before the origin, matching the
      // SQL-standard (and reference) negative-remainder behavior.
      reg.createOrReplaceTempFunction("date_bin",
        exprs => {
          val widthMicros: Long = (try exprs(0).eval(null) catch {
            case _: Exception => throw new IllegalArgumentException(
              "date_bin interval must be a literal")
          }) match {
            case ci: org.apache.spark.unsafe.types.CalendarInterval =>
              require(ci.months == 0,
                "date_bin: intervals containing months or years are not supported")
              ci.days * 86400000000L + ci.microseconds
            case micros: java.lang.Long => micros.longValue
            case other => throw new IllegalArgumentException(
              s"date_bin: unsupported interval value $other")
          }
          require(widthMicros != 0, "date_bin: interval must be non-zero")
          val t = call("unix_micros", Cast(exprs(1), TimestampType))
          val o = call("unix_micros", Cast(exprs(2), TimestampType))
          call("timestamp_micros",
            Subtract(t, Pmod(Subtract(t, o), Literal(widthMicros))))
        }, "scala_udf")

      // CrateDB date_format: 1-arg = default ISO-millis format, 2-arg =
      // (fmt, ts), 3-arg = (fmt, tz, ts); Dialect renames date_format →
      // date_format_mysql (Spark's own date_format uses java patterns)
      val defaultFmt = Literal(
        UTF8String.fromString("%Y-%m-%dT%H:%i:%s.%fZ"), StringType)
      val utc = Literal(UTF8String.fromString("UTC"), StringType)
      reg.createOrReplaceTempFunction("date_format_mysql",
        exprs => exprs.length match {
          case 1 => graft.plans.GraftDateFormatExpr(defaultFmt, utc, exprs(0))
          case 2 => graft.plans.GraftDateFormatExpr(exprs(0), utc, exprs(1))
          case _ => graft.plans.GraftDateFormatExpr(exprs(0), exprs(1), exprs(2))
        }, "scala_udf")

      // PG age(a[, b]) → INTERVAL with calendar borrowing (AgeFunction.java:
      // 45 builds a joda Period between the instants; java.time successive
      // whole-unit subtraction computes the identical field decomposition).
      // 1-arg form measures against CURRENT_DATE midnight, like PG.
      u.register("graft_age_str",
        (a: java.sql.Timestamp, b: java.sql.Timestamp) =>
          if (a == null || b == null) null
          else {
            import java.time.LocalDateTime
            import java.time.temporal.ChronoUnit
            val la = a.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
            val lb = b.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
            // joda Interval.toPeriod(yearMonthDayTime()) field extraction:
            // successive whole-unit subtraction from the SMALLER instant,
            // clamp-aware for years/months (Jan 31 + 1 month = Feb 29 COUNTS
            // as a full month — joda add() clamps, unlike ChronoUnit's
            // day-of-month comparison), negated when a < b.
            val (lo, hi, sign) = if (la.isBefore(lb)) (la, lb, -1L) else (lb, la, 1L)
            def clamped(t: LocalDateTime, u: ChronoUnit,
                        plus: (LocalDateTime, Long) => LocalDateTime): (Long, LocalDateTime) = {
              var n = u.between(t, hi)
              while (plus(t, n + 1).compareTo(hi) <= 0) n += 1
              (n, plus(t, n))
            }
            var t = lo
            val (years, t1) = clamped(t, ChronoUnit.YEARS, _.plusYears(_));   t = t1
            val (months, t2) = clamped(t, ChronoUnit.MONTHS, _.plusMonths(_)); t = t2
            val days = ChronoUnit.DAYS.between(t, hi); t = t.plusDays(days)
            val hours = ChronoUnit.HOURS.between(t, hi); t = t.plusHours(hours)
            val mins = ChronoUnit.MINUTES.between(t, hi); t = t.plusMinutes(mins)
            val secs = ChronoUnit.MICROS.between(t, hi) / 1000000.0
            // + 0.0 folds -0.0 to 0.0 so the sign never shows on a zero
            java.lang.String.format(java.util.Locale.ROOT,
              "%d years %d months %d days %d hours %d minutes %.6f seconds",
              Long.box(sign * years), Long.box(sign * months),
              Long.box(sign * days), Long.box(sign * hours),
              Long.box(sign * mins), Double.box(sign * secs + 0.0))
          })
      reg.createOrReplaceTempFunction("age",
        exprs => {
          val norm = exprs.map(e => Cast(e, TimestampType))
          val args =
            if (norm.length == 1)
              Seq(Cast(call("current_date"), TimestampType), norm(0))
            else Seq(norm(0), norm(1))
          Cast(call("graft_age_str", args: _*), CalendarIntervalType)
        }, "scala_udf")

      // encode(bytea, fmt) / decode(text, fmt) with the reference's three
      // formats (EncodeDecodeFunction.java): base64, hex (lowercase, PG
      // convention), escape (octal \nnn). Shadows Spark's charset
      // encode/decode — graft's SQL dialect is CrateDB text, where the
      // second argument is always one of these formats.
      def fmtLit(e: Expression, fn: String): String = e match {
        case Literal(s: UTF8String, StringType) if s != null =>
          s.toString.toLowerCase
        case _ => throw new IllegalArgumentException(
          s"$fn format must be a literal: base64 | hex | escape")
      }
      reg.createOrReplaceTempFunction("encode",
        exprs => fmtLit(exprs(1), "encode") match {
          case "base64" => call("base64", Cast(exprs(0), BinaryType))
          case "hex"    => call("lower", call("hex", Cast(exprs(0), BinaryType)))
          case "escape" => call("encode_escape", Cast(exprs(0), BinaryType))
          case other => throw new IllegalArgumentException(
            s"encode: unsupported format '$other'")
        }, "scala_udf")
      reg.createOrReplaceTempFunction("decode",
        exprs => fmtLit(exprs(1), "decode") match {
          case "base64" => call("unbase64", exprs(0))
          case "hex"    => call("unhex", exprs(0))
          case "escape" => call("decode_escape", exprs(0))
          case other => throw new IllegalArgumentException(
            s"decode: unsupported format '$other'")
        }, "scala_udf")

      // 1-arg parse_url is CrateDB's object form; 2/3-arg stays Spark's
      // native component extractor (the Column API resolves through this
      // same registry entry)
      reg.createOrReplaceTempFunction("parse_url",
        exprs =>
          if (exprs.length == 1) call("graft_parse_url", exprs(0))
          else org.apache.spark.sql.catalyst.expressions.ParseUrl(exprs),
        "scala_udf")

      // bare geo SQL names (scalar-functions.rst): latitude/longitude are
      // 1-based point subscripts, distance is the haversine composition
      // from GeoNetFunctions.haversineDistance re-expressed as raw
      // Catalyst calls (codegen'd end to end), geohash dispatches its
      // optional precision (reference GeoHashFunction emits the full
      // 12-char hash)
      import org.apache.spark.sql.catalyst.expressions.{Add, Divide, Multiply}
      // geo_point arguments are [lon,lat] arrays; WKT 'POINT (x y)'
      // strings implicit-cast like the reference's GeoPointType
      def ptArg(e: Expression): Expression = e.dataType match {
        case org.apache.spark.sql.types.StringType =>
          call("graft_wkt_point", e)
        case _ => e
      }
      reg.createOrReplaceTempFunction("latitude",
        exprs => call("element_at", ptArg(exprs(0)), Literal(2)), "scala_udf")
      reg.createOrReplaceTempFunction("longitude",
        exprs => call("element_at", ptArg(exprs(0)), Literal(1)), "scala_udf")
      reg.createOrReplaceTempFunction("geohash",
        exprs => call("graft_geohash_prec", exprs(0),
          exprs.lift(1).getOrElse(Literal(12))), "scala_udf")
      reg.createOrReplaceTempFunction("distance",
        exprs => {
          def el(p: Expression, i: Int) =
            call("radians", call("element_at", ptArg(p), Literal(i)))
          val (lon1, lat1) = (el(exprs(0), 1), el(exprs(0), 2))
          val (lon2, lat2) = (el(exprs(1), 1), el(exprs(1), 2))
          def halfSin2(x: Expression, y: Expression) =
            call("power", call("sin", Divide(Subtract(x, y), Literal(2.0))), Literal(2.0))
          val h = Add(halfSin2(lat2, lat1),
            Multiply(Multiply(call("cos", lat1), call("cos", lat2)),
              halfSin2(lon2, lon1)))
          // Lucene's mean earth radius (SloppyMath.TO_METERS
          // 6371008.7714150598…), the constant the reference's
          // distance() is built on — the doc vector
          // distance('POINT (10 20)','POINT (11 21)') =
          // 152354.3209044634 pins it
          Multiply(Literal(2.0 * 6371008.7714150598),
            call("asin", call("least", Literal(1.0), call("sqrt", h))))
        }, "scala_udf")
    }

    // vector_similarity(a, b) = 1 / (1 + l2²), the reference's Lucene
    // convention (VectorSimilarityFunction.java; Column-API twin in
    // functions/VectorFunctions.scala)
    u.register("vector_similarity", (a: Seq[Float], b: Seq[Float]) =>
      if (a == null || b == null || a.length != b.length) null
      else {
        var l2 = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i).toDouble; l2 += d * d; i += 1
        }
        Float.box((1.0 / (1.0 + l2)).toFloat)
      })

    // UDF→native promotion rule (see plans.GraftExtensions; injected here
    // dynamically so driver-owned sessions get it without a restart).
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteVectorUdfs))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteVectorUdfs
  }
}
