package graft

/** CrateDB → Spark SQL dialect front-end (SURVEY.md §4 item 4; reference
  * grammar `libs/sql-parser/src/main/antlr/SqlBaseParser.g4`).
  *
  * A token-level rewriter, NOT regex-over-text: the statement is lexed first
  * (string literals, quoted identifiers and comments become opaque tokens),
  * so rewrites can never corrupt literal text like `SELECT 'a::int'` — the
  * round-1 defect of the regex shim. Handled constructs:
  *
  *  - function renames (`arbitrary` → `any_value`, …)
  *  - `expr::type` casts, including on parenthesized expressions, function
  *    calls, string/number literals, and array types (`x::int[]`), with
  *    CrateDB type names mapped to Spark's
  *  - array subscripts `expr[n]` / `expr[i+1]` → `element_at(expr, n)`
  *    (CrateDB is 1-based; Spark's native `[]` is 0-based). String-key
  *    subscripts `obj['k']` are left alone — Spark's `[]` already resolves
  *    map keys and struct fields by name
  *  - array literals `[1, 2, 3]` → `array(1, 2, 3)`, `ARRAY[...]` too
  *  - OBJECT literals `{k = v, 'k2' = v2}` → `named_struct('k', v, …)`
  *  - `x <op> ANY/SOME/ALL(array_expr)` → `exists`/`forall` higher-order
  *    predicates (SQL 3VL preserved: null element + no match → NULL)
  *  - `MATCH(col, 'q')`, `MATCH((c1 [boost], c2), 'q') [USING best_fields |
  *    phrase]` → boolean `match_text` / phrase containment predicates
  *
  *  - quantified comparisons over *subqueries* (`x > ANY (SELECT …)`, all
  *    12 ANY/SOME/ALL × operator variants) → 3VL-exact CASE over injected
  *    min/max/count aggregate subqueries. The outer operand never enters
  *    subquery scope, so same-named inner columns cannot capture it and
  *    correlated inner queries translate as-is (Catalyst decorrelates the
  *    injected aggregates).
  */
object Dialect {

  // ---------- lexer ----------

  sealed trait Kind
  private[graft] object K {
    case object Ws extends Kind; case object Cmt extends Kind
    case object Str extends Kind; case object QId extends Kind
    case object Word extends Kind; case object Num extends Kind
    case object Sym extends Kind
  }
  final case class Tok(kind: Kind, text: String) {
    def is(s: String): Boolean = text.equalsIgnoreCase(s)
    def isSym(s: String): Boolean = kind == K.Sym && text == s
    def sig: Boolean = kind != K.Ws && kind != K.Cmt
    /** A bare or quoted identifier. */
    def isWord: Boolean = kind == K.Word || kind == K.QId
  }

  private val twoCharSyms = Set("::", "<=", ">=", "<>", "!=", "||", "->", "&&", "~*", "!~", "<<")

  private[graft] def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) {
        var k = i; while (k < n && s(k).isWhitespace) k += 1
        out += Tok(K.Ws, s.substring(i, k)); i = k
      } else if (c == '-' && i + 1 < n && s(i + 1) == '-') {
        var k = i; while (k < n && s(k) != '\n') k += 1
        out += Tok(K.Cmt, s.substring(i, k)); i = k
      } else if (c == '/' && i + 1 < n && s(i + 1) == '*') {
        val e = s.indexOf("*/", i + 2); val k = if (e < 0) n else e + 2
        out += Tok(K.Cmt, s.substring(i, k)); i = k
      } else if (c == '\'') {
        var k = i + 1; var open = true
        while (k < n && open) {
          if (s(k) == '\'') { if (k + 1 < n && s(k + 1) == '\'') k += 2 else { open = false; k += 1 } }
          else k += 1
        }
        out += Tok(K.Str, s.substring(i, k)); i = k
      } else if (c == '"') {
        var k = i + 1; var open = true
        while (k < n && open) {
          if (s(k) == '"') { if (k + 1 < n && s(k + 1) == '"') k += 2 else { open = false; k += 1 } }
          else k += 1
        }
        out += Tok(K.QId, s.substring(i, k)); i = k
      } else if (c == '`') {
        // backtick identifiers (already-Spark text, e.g. re-translation)
        var k = i + 1; var open = true
        while (k < n && open) {
          if (s(k) == '`') { if (k + 1 < n && s(k + 1) == '`') k += 2 else { open = false; k += 1 } }
          else k += 1
        }
        out += Tok(K.QId, s.substring(i, k)); i = k
      } else if (c.isLetter || c == '_') {
        var k = i; while (k < n && (s(k).isLetterOrDigit || s(k) == '_' || s(k) == '$')) k += 1
        out += Tok(K.Word, s.substring(i, k)); i = k
      } else if (c.isDigit) {
        var k = i
        while (k < n && (s(k).isDigit || s(k) == '.' ||
          ((s(k) == 'e' || s(k) == 'E') && k + 1 < n && (s(k + 1).isDigit || s(k + 1) == '+' || s(k + 1) == '-')) ||
          ((s(k) == '+' || s(k) == '-') && k > i && (s(k - 1) == 'e' || s(k - 1) == 'E')))) k += 1
        out += Tok(K.Num, s.substring(i, k)); i = k
      } else {
        if (i + 1 < n && twoCharSyms(s.substring(i, i + 2))) { out += Tok(K.Sym, s.substring(i, i + 2)); i += 2 }
        else { out += Tok(K.Sym, c.toString); i += 1 }
      }
    }
    out.result()
  }

  private[graft] def render(ts: Seq[Tok]): String = ts.map(_.text).mkString

  // ---------- token navigation ----------

  private def prevSig(ts: Vector[Tok], i: Int): Int = {
    var k = i - 1; while (k >= 0 && !ts(k).sig) k -= 1; k
  }
  private def nextSig(ts: Vector[Tok], i: Int): Int = {
    var k = i + 1; while (k < ts.length && !ts(k).sig) k += 1
    if (k < ts.length) k else -1
  }

  /** `i` points at a closing `)`/`]`/`}` — index of its opener, or -1. */
  private def matchBack(ts: Vector[Tok], i: Int): Int = {
    val close = ts(i).text; val open = close match { case ")" => "(" case "]" => "[" case _ => "{" }
    var depth = 0; var k = i
    while (k >= 0) {
      if (ts(k).isSym(close)) depth += 1
      else if (ts(k).isSym(open)) { depth -= 1; if (depth == 0) return k }
      k -= 1
    }
    -1
  }

  /** `i` points at an opening `(`/`[`/`{` — index of its closer, or -1. */
  private[graft] def matchFwd(ts: Vector[Tok], i: Int): Int = {
    val open = ts(i).text; val close = open match { case "(" => ")" case "[" => "]" case _ => "}" }
    var depth = 0; var k = i
    while (k < ts.length) {
      if (ts(k).isSym(open)) depth += 1
      else if (ts(k).isSym(close)) { depth -= 1; if (depth == 0) return k }
      k += 1
    }
    -1
  }

  /** Start index of the operand whose LAST significant token is at `i`:
    * literals stand alone; words extend back over dotted paths; a closing
    * paren/bracket extends to its opener plus a preceding call name. */
  private def operandStart(ts: Vector[Tok], i: Int): Int = {
    val t = ts(i)
    if (t.kind == K.Str || t.kind == K.Num) i
    else if (t.kind == K.Word || t.kind == K.QId) {
      var s = i
      var p = prevSig(ts, s)
      while (p >= 0 && ts(p).isSym(".") && prevSig(ts, p) >= 0 &&
        (ts(prevSig(ts, p)).kind == K.Word || ts(prevSig(ts, p)).kind == K.QId)) {
        s = prevSig(ts, p); p = prevSig(ts, s)
      }
      s
    } else if (t.isSym("}")) {
      // OBJECT literal `{...}` — the whole brace group is the operand
      // (so `{x=1}::json` and `{a=1} || {b=2}` lift correctly)
      val o = matchBack(ts, i)
      if (o < 0) i else o
    } else if (t.isSym(")") || t.isSym("]")) {
      val o = matchBack(ts, i)
      if (o < 0) i
      else {
        val p = prevSig(ts, o)
        if (p < 0) o
        else if ((ts(p).kind == K.Word || ts(p).kind == K.QId) &&
          ts(i).isSym(")") && !keywords(ts(p).text.toLowerCase))
          operandStart(ts, p) // function call: include the (possibly dotted) name
        else if (ts(i).isSym("]") &&
          (ts(p).kind == K.QId || ts(p).isSym(")") || ts(p).isSym("]") ||
            (ts(p).kind == K.Word && !keywords(ts(p).text.toLowerCase))))
          // subscript in a chain: `a['k'][1]`'s base is ALL of `a['k']`,
          // not just the inner bracket group — without this the 1-based
          // rewrite detached the root (`a` + try_element_at(['k'], 1))
          operandStart(ts, p)
        else o
      }
    } else i
  }

  /** End index of the operand whose FIRST significant token is at `i`:
    * the forward mirror of `operandStart` — literals stand alone; words
    * extend over dotted paths and a call's argument list; an opening
    * paren/bracket extends to its closer; trailing subscripts attach. */
  private def operandEnd(ts: Vector[Tok], i: Int): Int = {
    val t = ts(i)
    var e =
      if (t.kind == K.Str || t.kind == K.Num) i
      else if (t.kind == K.Word || t.kind == K.QId) {
        var p = i
        var nx = nextSig(ts, p)
        while (nx >= 0 && ts(nx).isSym(".") && nextSig(ts, nx) >= 0 &&
          (ts(nextSig(ts, nx)).kind == K.Word || ts(nextSig(ts, nx)).kind == K.QId)) {
          p = nextSig(ts, nx); nx = nextSig(ts, p)
        }
        if (nx >= 0 && (ts(nx).isSym("(") || ts(nx).isSym("["))) matchFwd(ts, nx) else p
      } else if (t.isSym("(") || t.isSym("[") || t.isSym("{")) matchFwd(ts, i)
      else i
    // trailing subscripts: expr[...] [...]
    var nx = nextSig(ts, e)
    while (nx >= 0 && ts(nx).isSym("[")) { e = matchFwd(ts, nx); nx = nextSig(ts, e) }
    e
  }

  /** SQL keywords that can directly precede `(` without being a call name. */
  private val keywords = Set(
    "select", "where", "from", "and", "or", "not", "on", "when", "then",
    "else", "in", "as", "by", "having", "case", "end", "join", "all", "any",
    "some", "distinct", "union", "intersect", "except", "values", "set",
    "like", "ilike", "between", "is", "over", "partition", "order", "group",
    "limit", "offset", "returning", "using", "into", "insert", "update",
    "delete", "with", "recursive")

  // ---------- rewrite passes (each: first applicable site → splice) ----------

  private val renames: Map[String, String] = Map(
    "hyperloglog_distinct" -> "approx_count_distinct",
    "arbitrary"            -> "any_value",
    "curdate"              -> "current_date",
    "strpos"               -> "instr",
    // null-array-as-empty + duplicate/order contracts live in the
    // graft twins (ArrayCatFunctionTest null args → other side;
    // ArrayDifferenceFunction keeps duplicates, unlike array_except;
    // ArrayUniqueFunction has a 2-array union form; ArrayOverlap
    // matches null ELEMENTS — Collections.disjoint, not 3VL)
    "array_cat"            -> "graft_array_cat",
    // the reference's concat() IGNORES nulls (ConcatFunction.java:222 —
    // PG behavior; `||` stays strict-null, which Spark's operator
    // already is); arrays delegate back to Spark's Concat inside
    "concat"               -> "graft_concat",
    "array_unique"         -> "graft_array_unique",
    "array_difference"     -> "graft_array_difference",
    "random"               -> "rand",
    // ArithmeticFunctions.java registers `modulus` as the spelled-out alias
    // of `mod`; aggregation.rst documents `mean` as an alias of `avg`.
    "modulus"              -> "mod",
    "mean"                 -> "avg",
    // CrateDB `trunc` is NUMERIC truncation (TruncFunction.java); Spark's
    // builtin `trunc` is date truncation, so the name must move aside.
    "trunc"                -> "graft_trunc",
    "format"               -> "format_string",
    "date_format"          -> "date_format_mysql",
    "array_overlap"        -> "graft_array_overlap",
    "gen_random_text_uuid" -> "uuid",
    // ArrayToStringFunction.java:36 — Spark's array_join with one edge
    // fixed in the graft twin: a NULL null_string third argument means
    // SKIP nulls (same as the 2-arg form), not strict-null
    "array_to_string"      -> "graft_array_to_string",
    // StartsWithFunction.java:51 — Spark spells it without the underscore
    "starts_with"          -> "startswith",
    // StringPaddingFunction: the reference's pad edges differ from
    // Spark's builtins (50000-len guard is loud, empty fill returns the
    // string unchanged) — route to the graft twins
    "lpad"                 -> "graft_lpad",
    "rpad"                 -> "graft_rpad",
    // RegexpReplaceFunction: PG semantics — FIRST match unless the 'g'
    // flag; Spark's native always replaces all, so the name must move
    "regexp_replace"       -> "graft_regexp_replace",
    // CrateDB keeps PG argument order array_prepend(value, array)
    // (ArrayPrependFunction.java:47); Spark's builtin is (array, value).
    // Renamed to a graft-registered twin with the CrateDB order — an
    // in-place argument swap would break translate's idempotence.
    "array_prepend"        -> "graft_array_prepend"
  )

  private def passRenames(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word) {
        renames.get(t.text.toLowerCase) match {
          case Some(to) =>
            val nx = nextSig(ts, i)
            if (nx >= 0 && ts(nx).isSym("("))
              return Some(ts.updated(i, Tok(K.Word, to)))
          case None =>
        }
      }
      i += 1
    }
    None
  }

  private val typeMap: Map[String, String] = Map(
    "text" -> "STRING", "string" -> "STRING", "ip" -> "STRING",
    "varchar" -> "VARCHAR", "char" -> "CHAR", "character" -> "STRING",
    "int" -> "INT", "integer" -> "INT", "long" -> "BIGINT", "bigint" -> "BIGINT",
    "smallint" -> "SMALLINT", "short" -> "SMALLINT", "byte" -> "TINYINT",
    // PG numeric aliases (reference DataTypesTest: int2/int4/int8 map to
    // SHORT/INTEGER/LONG; float4/float8 are above)
    "int2" -> "SMALLINT", "int4" -> "INT", "int8" -> "BIGINT",
    "real" -> "FLOAT", "float4" -> "FLOAT", "float" -> "FLOAT",
    "double" -> "DOUBLE", "float8" -> "DOUBLE",
    "boolean" -> "BOOLEAN", "bool" -> "BOOLEAN",
    "timestamp" -> "TIMESTAMP", "timestamptz" -> "TIMESTAMP",
    "date" -> "DATE", "decimal" -> "DECIMAL", "numeric" -> "DECIMAL",
    "geo_point" -> "ARRAY<DOUBLE>"
  )

  private def passCasts(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("::")) {
        val opEnd = prevSig(ts, i)
        val tyStart = nextSig(ts, i)
        if (opEnd >= 0 && tyStart >= 0 && ts(tyStart).kind == K.Word) {
          val opStart = operandStart(ts, opEnd)
          // consume type: word [ "precision" ] [ (n[,m]) ] [ [] ]
          var tyEnd = tyStart
          var base = ts(tyStart).text.toLowerCase
          var params = ""
          if (base == "double") {
            val nx = nextSig(ts, tyEnd)
            if (nx >= 0 && ts(nx).is("precision")) tyEnd = nx
          }
          var timeWithTz = false
          if (base == "timestamp" || base == "time") {
            // optional "with|without time zone" (timestamps all map to
            // TIMESTAMP — Spark timestamps are session-TZ'd; only
            // `time WITH time zone` is the timetz fringe type, so track
            // which keyword was consumed)
            val w1 = nextSig(ts, tyEnd)
            if (w1 >= 0 && (ts(w1).is("with") || ts(w1).is("without"))) {
              val w2 = nextSig(ts, w1)
              val w3 = if (w2 >= 0) nextSig(ts, w2) else -1
              if (w2 >= 0 && ts(w2).is("time") && w3 >= 0 && ts(w3).is("zone")) {
                tyEnd = w3
                timeWithTz = ts(w1).is("with")
              }
            }
          }
          var nx = nextSig(ts, tyEnd)
          if (nx >= 0 && ts(nx).isSym("(")) {
            val cl = matchFwd(ts, nx)
            if (cl > 0 && ts.slice(nx + 1, cl).forall(t => !t.sig || t.kind == K.Num || t.isSym(","))) {
              params = render(ts.slice(nx, cl + 1)).replaceAll("\\s", "")
              tyEnd = cl
            }
          }
          var isArray = false
          nx = nextSig(ts, tyEnd)
          if (nx >= 0 && ts(nx).isSym("[")) {
            val cl = nextSig(ts, nx)
            if (cl >= 0 && ts(cl).isSym("]")) { isArray = true; tyEnd = cl }
          }
          val operand = render(ts.slice(opStart, opEnd + 1))
          // fringe types route to their semantic functions, not CAST:
          // ::bit(n) trims-or-errors (BitStringType.explicitCast),
          // ::timetz / ::time with time zone parses to the struct value
          val fringe: Option[String] =
            if (base == "bit" && !isArray) {
              val n = if (params.nonEmpty)
                params.stripPrefix("(").stripSuffix(")").toInt else 1
              Some(s"graft_bit_cast($operand, $n)")
            } else if (!isArray && (base == "timetz" ||
                (base == "time" && timeWithTz)))
              // ONLY `time WITH time zone` is the timetz struct type
              // (the reference grammar has no plain-TIME column type);
              // `time(n)` / `time without time zone` keep the CAST path
              Some(s"timetz($operand)")
            else if (!isArray && base == "ip")
              // validate/normalize strings, render numbers
              // (IpType.implicitCast — a plain string cast silently
              // accepted garbage)
              Some(s"graft_ip_cast($operand)")
            else if (!isArray && base == "interval")
              // '120-1 1 15:30'::interval etc. — the reference's string
              // grammar (Spark's CAST to interval types accepts only its
              // own literal syntax)
              Some(s"graft_interval($operand)")
            else if (!isArray && (base == "timestamp" || base == "timestamptz"))
              // the reference cast: bare-integer strings/numbers are
              // epoch MILLIS, doubles are seconds, string grammar loud
              // (TimestampType.implicitCast); bare `timestamp` is
              // WITHOUT tz (DataTypes.java:89 — offsets parsed but
              // ignored), `timestamptz`/`with time zone` applies them
              Some(s"graft_ts_cast($operand, " +
                s"${base == "timestamptz" || timeWithTz})")
            else if (!isArray && base == "date")
              // DateType.implicitCast: grammar-first (date part of a
              // datetime wins), bare-long epoch millis, numeric
              // truncation to the day, loud on garbage
              Some(s"graft_date_cast($operand)")
            else if (!isArray && (base == "boolean" || base == "bool"))
              // BooleanType.implicitCast: PG map incl. on/off,
              // untrimmed, loud; numbers true iff strictly positive
              Some(s"graft_bool_cast($operand)")
            else if (!isArray && (base == "regclass" || base == "regproc" ||
                base == "regtype"))
              // PG object-identifier casts (RegclassType & co.): names
              // hash to the pg_catalog oid scheme, ints pass through,
              // out-of-int-range longs are loud
              Some(s"graft_${base}_cast($operand)")
            else if (!isArray && base == "json")
              // JsonType.explicitCast: objects/arrays render to their
              // JSON string; strings pass through
              Some(s"graft_json_cast($operand)")
            else if (!isArray && base == "geo_shape")
              // canonical WKT — equality on the normalized text IS the
              // reference's topological shape equality
              Some(s"graft_shape_norm($operand)")
            else if (!isArray && (base == "text" || base == "string" ||
                base == "varchar" || base == "char" ||
                base == "character") && params.isEmpty &&
                !(base == "char" || base == "character"))
              // ::text — PG boolean rendering 't'/'f' (StringTypeTest);
              // everything else delegates to Spark's string cast
              Some(s"graft_to_text($operand)")
            else if (!isArray && base == "varchar" && params.nonEmpty) {
              // varchar(n) explicit cast TRUNCATES overflow
              // (StringType.explicitCast), never errors like Spark's
              val n = params.stripPrefix("(").stripSuffix(")").toInt
              Some(s"substring(graft_to_text($operand), 1, $n)")
            } else if (!isArray && (base == "char" || base == "character")) {
              // char(n): truncate overflow AND blank-pad to n
              // (CharacterTypeTest; default length 1)
              val n = if (params.nonEmpty)
                params.stripPrefix("(").stripSuffix(")").toInt else 1
              Some(s"rpad(substring(graft_to_text($operand), 1, $n), $n, ' ')")
            }
            else None
          fringe.foreach { f =>
            return Some(ts.slice(0, opStart) ++ lex(f) ++
              ts.slice(tyEnd + 1, ts.length))
          }
          val mapped0 = typeMap.getOrElse(base, ts(tyStart).text)
          // bare varchar (no length) is the reference's alias of STRING
          // (DataTypesTest.test_varchar_is_aliased_to_string); Spark's
          // VARCHAR demands a length
          val mapped =
            if (params.isEmpty && mapped0 == "VARCHAR") "STRING"
            // bare NUMERIC is the reference's arbitrary-precision type
            // (documented ≤38 here); Spark's bare DECIMAL means (10,0),
            // which can't even hold a BIGINT — widen to the ceiling
            else if (params.isEmpty && mapped0 == "DECIMAL") "DECIMAL(38,18)"
            else mapped0 + params
          val sparkTy = if (isArray) s"ARRAY<$mapped>" else mapped
          val repl = lex(s"CAST($operand AS $sparkTy)")
          return Some(ts.slice(0, opStart) ++ repl ++ ts.slice(tyEnd + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  private val cmpOps = Set("=", "!=", "<>", "<", "<=", ">", ">=")

  private def passAnyAll(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word && (t.is("any") || t.is("some") || t.is("all"))) {
        val op = prevSig(ts, i)
        val par = nextSig(ts, i)
        if (op >= 0 && par >= 0 && ts(par).isSym("(") &&
          (cmpOps.contains(ts(op).text) || ts(op).is("like") || ts(op).is("ilike"))) {
          val close = matchFwd(ts, par)
          val inner = ts.slice(par + 1, close)
          val innerFirst = inner.find(_.sig)
          if (close > 0 && !innerFirst.exists(_.is("select"))) {
            // `[NOT] LIKE/ILIKE ANY(array)` (selects.rst;
            // AnyNotLikeOperator.java matches() negates PER ELEMENT):
            // `x NOT LIKE ANY(a)` = "at least one element x does NOT
            // match" — the NOT wraps the element comparison inside the
            // quantifier, not the quantifier itself
            val isLikeOp = ts(op).is("like") || ts(op).is("ilike")
            val notAt =
              if (isLikeOp) {
                val p = prevSig(ts, op)
                if (p >= 0 && ts(p).is("not")) p else -1
              } else -1
            val lhsEnd = prevSig(ts, if (notAt >= 0) notAt else op)
            if (lhsEnd >= 0) {
              val lhsStart = operandStart(ts, lhsEnd)
              val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
              val arr = render(inner).trim
              val cmp = ts(op).text
              val hof = if (t.is("all")) "forall" else "exists"
              // graft_dim_match auto-unnests the array to the lhs's
              // dimension at analysis time (ANY over [[1,2],[3,4]] with a
              // scalar lhs — selects.rst "unnests … as required"); it is
              // identity when dimensions already line up.
              val repl =
                if (notAt >= 0)
                  lex(s"$hof(graft_dim_match($lhs, $arr), __t -> NOT ($lhs $cmp __t))")
                else
                  lex(s"$hof(graft_dim_match($lhs, $arr), __t -> $lhs $cmp __t)")
              return Some(ts.slice(0, lhsStart) ++ repl ++ ts.slice(close + 1, ts.length))
            }
          } else if (close > 0 && innerFirst.exists(_.is("select")) &&
            cmpOps.contains(ts(op).text)) {
            // quantified comparison over a SUBQUERY (AnyOperator.java /
            // AllOperator.java — 12 variants). Spark has only IN/EXISTS, so:
            // `= ANY` → IN, `<> ALL` → NOT IN (both natively 3VL-exact);
            // ordering ops → min/max summary CASE preserving SQL 3VL (empty
            // set dominates, FALSE dominates ALL, NULL when undecidable).
            val lhsEnd = prevSig(ts, op)
            if (lhsEnd >= 0) {
              val lhsStart = operandStart(ts, lhsEnd)
              val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
              quantifiedSubquery(lhs, ts(op).text, t.text.toLowerCase, inner)
                .foreach { sql =>
                  return Some(ts.slice(0, lhsStart) ++ lex(sql) ++ ts.slice(close + 1, ts.length))
                }
            }
          }
        }
      }
      i += 1
    }
    None
  }

  private def passMatch(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("match")) {
        val par = nextSig(ts, i)
        if (par >= 0 && ts(par).isSym("(")) {
          val close = matchFwd(ts, par)
          if (close > 0) {
            val args = ts.slice(par + 1, close)
            // split top-level on the last comma: cols , 'query'
            val splitAt = {
              var depth = 0; var at = -1; var k = 0
              while (k < args.length) {
                if (args(k).isSym("(") || args(k).isSym("[") || args(k).isSym("{")) depth += 1
                else if (args(k).isSym(")") || args(k).isSym("]") || args(k).isSym("}")) depth -= 1
                else if (args(k).isSym(",") && depth == 0) at = k
                k += 1
              }
              at
            }
            if (splitAt > 0 && args.drop(splitAt + 1).exists(a => a.kind == K.Str)) {
              val queryTok = args.drop(splitAt + 1).find(_.sig).get
              if (queryTok.kind == K.Str) {
                val colsPart = args.slice(0, splitAt).filter(_.sig)
                // cols: either one column, or (c1 [boost], c2 [boost], ...)
                val cols: Seq[String] =
                  if (colsPart.nonEmpty && colsPart.head.isSym("(")) {
                    colsPart.slice(1, colsPart.length - 1)
                      .filter(t => t.kind == K.Word || t.kind == K.QId)
                      .map(_.text)
                  } else Seq(render(args.slice(0, splitAt)).trim)
                // optional trailing USING <method>
                var end = close
                var method = "best_fields"
                val u = nextSig(ts, close)
                if (u >= 0 && ts(u).is("using")) {
                  val m = nextSig(ts, u)
                  if (m >= 0 && ts(m).kind == K.Word) { method = ts(m).text.toLowerCase; end = m }
                }
                val q = queryTok.text
                val pred = method match {
                  case "phrase" =>
                    cols.map(c => s"contains(lower($c), lower($q))").mkString("(", " OR ", ")")
                  // geographical MATCH on geo_shape columns (reference
                  // docs/general/dql/geo.rst: match_types intersects
                  // (spatial default) / disjoint / within decide the
                  // spatial relation of the indexed shape vs the query
                  // shape) — lowered to the computational-geometry UDFs
                  case "intersects" =>
                    cols.map(c => s"geo_intersects($c, $q)").mkString("(", " OR ", ")")
                  case "disjoint" =>
                    cols.map(c => s"geo_disjoint($c, $q)").mkString("(", " OR ", ")")
                  case "within" =>
                    cols.map(c => s"geo_within($c, $q)").mkString("(", " OR ", ")")
                  case _ =>
                    cols.map(c => s"match_text($c, $q)").mkString("(", " OR ", ")")
                }
                return Some(ts.slice(0, i) ++ lex(pred) ++ ts.slice(end + 1, ts.length))
              }
            }
          }
        }
      }
      i += 1
    }
    None
  }

  private def passObjectLiteral(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("{")) {
        val close = matchFwd(ts, i)
        if (close == i + 1) {
          // `{}` — the empty OBJECT literal (null_or_empty({}) in the
          // reference doctests). Bare OBJECT maps to MAP<STRING,STRING>
          // in DDL, so the empty literal is the empty map.
          return Some(ts.slice(0, i) ++ lex("map()") ++ ts.slice(close + 1, ts.length))
        }
        if (close > i + 1) {
          val inner = ts.slice(i + 1, close)
          // split on top-level commas
          val parts = {
            val buf = Vector.newBuilder[Vector[Tok]]
            var depth = 0; var start = 0; var k = 0
            while (k < inner.length) {
              val t = inner(k)
              if (t.isSym("(") || t.isSym("[") || t.isSym("{")) depth += 1
              else if (t.isSym(")") || t.isSym("]") || t.isSym("}")) depth -= 1
              else if (t.isSym(",") && depth == 0) { buf += inner.slice(start, k); start = k + 1 }
              k += 1
            }
            buf += inner.slice(start, inner.length)
            buf.result()
          }
          val entries = parts.map { p =>
            val sig = p.filter(_.sig)
            val eq = sig.indexWhere(_.isSym("="))
            if (eq <= 0) return None // not an object literal (e.g. a hint block) — leave alone
            val keyTok = sig.head
            val key = keyTok.kind match {
              case K.Str => keyTok.text
              case K.QId => "'" + keyTok.text.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"") + "'"
              case _     => "'" + keyTok.text + "'"
            }
            // value = everything after the FIRST top-level '=' in original order
            val eqIdx = p.indexWhere(_.isSym("="))
            key + ", " + render(p.slice(eqIdx + 1, p.length)).trim
          }
          val repl = lex(entries.mkString("named_struct(", ", ", ")"))
          return Some(ts.slice(0, i) ++ repl ++ ts.slice(close + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  private def passBrackets(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("[")) {
        val close = matchFwd(ts, i)
        if (close > 0) {
          val p = prevSig(ts, i)
          val prevIsOperand = p >= 0 && (ts(p).kind == K.QId ||
            (ts(p).kind == K.Word && !ts(p).is("array") && !keywords(ts(p).text.toLowerCase)) ||
            ts(p).isSym(")") || ts(p).isSym("]"))
          val inner = ts.slice(i + 1, close)
          val innerSig = inner.filter(_.sig)
          if (p >= 0 && ts(p).kind == K.Word && ts(p).is("array")) {
            // PG-style ARRAY[...] constructor
            val repl = lex("array(" + render(inner) + ")")
            return Some(ts.slice(0, p) ++ repl ++ ts.slice(close + 1, ts.length))
          } else if (prevIsOperand) {
            // subscript. String-key subscripts are valid Spark already
            // (map/struct access by name) — only numeric/expression
            // subscripts need the 1-based rewrite. CrateDB returns NULL for
            // out-of-range or non-positive indexes (SubscriptFunction
            // .java:208 catches IndexOutOfBounds); Spark under ANSI mode
            // errors, so the rewrite guards with try_element_at + an index
            // floor (Spark's negative index = from-the-end would otherwise
            // silently diverge).
            val colonIdx = innerSig.indexWhere(_.isSym(":"))
            if (colonIdx >= 0) {
              // slice a[from:to] — 1-based inclusive ends, both optional,
              // to clamped to length (ArraySliceFunction.java:71-80)
              val opStart = operandStart(ts, p)
              val operand = render(ts.slice(opStart, p + 1))
              val colonAbs = (i + 1 until close).find(k => ts(k).isSym(":")).get
              val f = render(ts.slice(i + 1, colonAbs)).trim
              val t = render(ts.slice(colonAbs + 1, close)).trim
              val repl = (f.nonEmpty, t.nonEmpty) match {
                case (true, true)  => lex(s"slice($operand, $f, greatest(($t) - ($f) + 1, 0))")
                case (true, false) => lex(s"slice($operand, $f, greatest(size($operand) - ($f) + 1, 0))")
                case (false, true) => lex(s"slice($operand, 1, greatest($t, 0))")
                case _             => lex(operand)
              }
              return Some(ts.slice(0, opStart) ++ repl ++ ts.slice(close + 1, ts.length))
            } else if (!(innerSig.length == 1 && innerSig.head.kind == K.Str) && innerSig.nonEmpty) {
              val opStart = operandStart(ts, p)
              val operand = render(ts.slice(opStart, p + 1))
              val idx = render(inner).trim
              val repl = lex(s"if(($idx) <= 0, null, try_element_at($operand, $idx))")
              return Some(ts.slice(0, opStart) ++ repl ++ ts.slice(close + 1, ts.length))
            }
          } else if (!prevIsOperand) {
            // array literal — `[]` (empty) included
            val repl = lex("array(" + render(inner) + ")")
            return Some(ts.slice(0, i) ++ repl ++ ts.slice(close + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  /** `FETCH { FIRST | NEXT } [n] { ROW | ROWS } ONLY` → `LIMIT n` (n
    * defaults to 1), and `OFFSET n { ROW | ROWS }` → `OFFSET n` — the
    * SQL-standard forms CrateDB accepts and Spark does not. */
  private def passFetchOffset(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word && t.is("fetch")) {
        val w1 = nextSig(ts, i)
        if (w1 >= 0 && (ts(w1).is("first") || ts(w1).is("next"))) {
          var n = "1"
          var k = nextSig(ts, w1)
          if (k >= 0 && ts(k).kind == K.Num) { n = ts(k).text; k = nextSig(ts, k) }
          if (k >= 0 && (ts(k).is("row") || ts(k).is("rows"))) {
            val only = nextSig(ts, k)
            if (only >= 0 && ts(only).is("only"))
              return Some(ts.slice(0, i) ++ lex(s"LIMIT $n") ++ ts.slice(only + 1, ts.length))
          }
        }
      }
      if (t.kind == K.Word && t.is("offset")) {
        val num = nextSig(ts, i)
        if (num >= 0 && ts(num).kind == K.Num) {
          val rw = nextSig(ts, num)
          if (rw >= 0 && (ts(rw).is("row") || ts(rw).is("rows")))
            return Some(ts.slice(0, num + 1) ++ ts.slice(rw + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  /** `agg(args) FILTER (WHERE cond)` → `agg(CASE WHEN cond THEN args END)`
    * (PG/CrateDB aggregate filter clause; Spark has no FILTER syntax).
    * `count(*)` maps to `count(CASE WHEN cond THEN 1 END)`; a leading
    * DISTINCT is preserved. Multi-argument aggregates are left untouched
    * (no single-CASE equivalent). */
  private def passFilterClause(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word && t.is("filter")) {
        val closeArgs = prevSig(ts, i)
        val par = nextSig(ts, i)
        if (closeArgs >= 0 && ts(closeArgs).isSym(")") && par >= 0 && ts(par).isSym("(")) {
          val openArgs = matchBack(ts, closeArgs)
          val aggName = if (openArgs > 0) prevSig(ts, openArgs) else -1
          val filterClose = matchFwd(ts, par)
          val inner = ts.slice(par + 1, filterClose)
          val innerFirst = inner.find(_.sig)
          if (openArgs > 0 && aggName >= 0 && ts(aggName).kind == K.Word &&
            !keywords(ts(aggName).text.toLowerCase) &&
            filterClose > 0 && innerFirst.exists(_.is("where"))) {
            val whereIdx = inner.indexWhere(_.is("where"))
            val cond = render(inner.slice(whereIdx + 1, inner.length)).trim
            val args = ts.slice(openArgs + 1, closeArgs)
            val argsSig = args.filter(_.sig)
            // bail on multi-arg aggregates (top-level comma)
            val topComma = {
              var depth = 0; var has = false
              args.foreach { a =>
                if (a.isSym("(")) depth += 1
                else if (a.isSym(")")) depth -= 1
                else if (a.isSym(",") && depth == 0) has = true
              }
              has
            }
            if (!topComma) {
              val newArgs =
                if (argsSig.length == 1 && argsSig.head.isSym("*"))
                  s"CASE WHEN $cond THEN 1 END"
                else if (argsSig.nonEmpty && argsSig.head.is("distinct"))
                  s"DISTINCT CASE WHEN $cond THEN ${render(args.dropWhile(!_.is("distinct")).drop(1)).trim} END"
                else
                  s"CASE WHEN $cond THEN ${render(args).trim} END"
              val repl = lex(ts(aggName).text + "(" + newArgs + ")")
              return Some(ts.slice(0, aggName) ++ repl ++ ts.slice(filterClose + 1, ts.length))
            }
          }
        }
      }
      i += 1
    }
    None
  }

  /** `information_schema.x` / `sys.x` → the flat `information_schema_x` /
    * `sys_x` temp-view names registered by sources.InformationSchema /
    * sources.SysCatalog (Spark temp views cannot carry a schema qualifier). */
  private def passSystemSchemas(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i + 2 < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word &&
          (t.text.equalsIgnoreCase("information_schema") || t.text.equalsIgnoreCase("sys")) &&
          ts(i + 1).isSym(".") && ts(i + 2).kind == K.Word)
        return Some(ts.patch(i, Seq(
          Tok(K.Word, t.text.toLowerCase + "_" + ts(i + 2).text)), 3))
      // pg_catalog.pg_x → the unqualified pg_x view name
      if (t.kind == K.Word && t.text.equalsIgnoreCase("pg_catalog") &&
          ts(i + 1).isSym(".") && ts(i + 2).kind == K.Word)
        return Some(ts.patch(i, Seq(Tok(K.Word, ts(i + 2).text)), 3))
      // pg_get_keywords() — a zero-arg TABLE function in the reference;
      // served here as the pg_get_keywords view, so the call parens drop
      if (t.kind == K.Word && t.text.equalsIgnoreCase("pg_get_keywords") &&
          ts(i + 1).isSym("(") && ts(i + 2).isSym(")"))
        return Some(ts.patch(i, Seq(Tok(K.Word, "pg_get_keywords")), 3))
      i += 1
    }
    None
  }

  /** `a && b` (CrateDB/PG array-overlap operator, ArrayOverlapFunction
    * .java:41) → `graft_array_overlap(a, b)` (null ELEMENTS match — the
    * reference's Collections.disjoint — unlike Spark's 3VL
    * arrays_overlap). Operands are simple expressions:
    * (dotted) identifiers, literals, calls, parenthesized groups, array
    * literals, subscripted forms — the shapes `operandStart`/`operandEnd`
    * recognize. */
  private def passArrayOverlap(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("&&")) {
        val lhsEnd = prevSig(ts, i)
        val rhsStart = nextSig(ts, i)
        if (lhsEnd >= 0 && rhsStart >= 0) {
          val lhsStart = operandStart(ts, lhsEnd)
          val rhsEnd = operandEnd(ts, rhsStart)
          val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
          val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
          val repl = lex(s"graft_array_overlap($lhs, $rhs)")
          return Some(ts.slice(0, lhsStart) ++ repl ++ ts.slice(rhsEnd + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  /** PG `E'...'` extended escape strings (the reference's parser,
    * SqlBaseLexer ESCAPED_STRING): backslash escapes are processed at
    * translate time into a plain standard-conforming literal —
    * `\b \f \n \r \t \\ \'`, octal `\ooo`, hex `\xhh`, unicode
    * `\uXXXX`; an unknown escape is the character itself. */
  private def passEscapeString(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i).kind == K.Word && ts(i).text.equalsIgnoreCase("e") &&
          ts(i + 1).kind == K.Str) {
        val inner = ts(i + 1).text.stripPrefix("'").stripSuffix("'")
          .replace("''", "'")
        val sb = new StringBuilder
        var k = 0
        while (k < inner.length) {
          val c = inner.charAt(k)
          if (c == '\\' && k + 1 < inner.length) {
            val n = inner.charAt(k + 1)
            n match {
              case 'b'  => sb.append('\b'); k += 2
              case 'f'  => sb.append('\f'); k += 2
              case 'n'  => sb.append('\n'); k += 2
              case 'r'  => sb.append('\r'); k += 2
              case 't'  => sb.append('\t'); k += 2
              case '\\' => sb.append('\\'); k += 2
              case '\'' => sb.append('\''); k += 2
              case 'x' =>
                var j = k + 2
                while (j < inner.length && j < k + 4 &&
                  Character.digit(inner.charAt(j), 16) >= 0) j += 1
                if (j > k + 2) {
                  sb.append(Integer.parseInt(inner.substring(k + 2, j), 16).toChar)
                  k = j
                } else { sb.append('x'); k += 2 }
              case 'u' if k + 5 < inner.length + 1 &&
                  (k + 2 to k + 5).forall(p => p < inner.length &&
                    Character.digit(inner.charAt(p), 16) >= 0) =>
                sb.append(Integer.parseInt(
                  inner.substring(k + 2, k + 6), 16).toChar)
                k += 6
              case d if d >= '0' && d <= '7' =>
                var j = k + 1
                while (j < inner.length && j < k + 4 &&
                  inner.charAt(j) >= '0' && inner.charAt(j) <= '7') j += 1
                sb.append(Integer.parseInt(inner.substring(k + 1, j), 8).toChar)
                k = j
              case other => sb.append(other); k += 2
            }
          } else { sb.append(c); k += 1 }
        }
        val lit = "'" + sb.toString.replace("'", "''") + "'"
        return Some(ts.slice(0, i) ++ Vector(Tok(K.Str, lit)) ++
          ts.slice(i + 2, ts.length))
      }
      i += 1
    }
    None
  }

  /** CrateDB names an unaliased select item that is a single function
    * call after the bare function name (`SELECT strpos('crate','ate')`
    * → column `strpos`; Spark would render the whole expression).
    * Runs BEFORE the rename passes so the alias carries the ORIGINAL
    * spelling. Items with trailing tokens (OVER, operators, an
    * existing alias) and non-call items are untouched. */
  private val noAutoAlias = Set("cast", "array", "row", "map", "struct",
    "interval", "exists", "extract", "substring", "trim", "position",
    "grouping", "if")
  private def passSelectItemAlias(ts: Vector[Tok]): Option[Vector[Tok]] = {
    def clauseEnd(t: Tok) = t.kind == K.Word &&
      Set("from", "where", "group", "having", "order", "limit", "offset",
        "union", "intersect", "except", "returning", "into",
        "window")(t.text.toLowerCase)
    def tryAlias(start: Int, end: Int): Option[Vector[Tok]] = {
      val item = (start until end).filter(k => ts(k).sig)
      if (item.isEmpty) return None
      var k = item.head
      if (!(ts(k).kind == K.Word || ts(k).kind == K.QId)) return None
      var name = ts(k).text
      var nx = nextSig(ts, k)
      while (nx >= 0 && nx < end && ts(nx).isSym(".") && {
        val n2 = nextSig(ts, nx)
        n2 >= 0 && n2 < end && (ts(n2).kind == K.Word || ts(n2).kind == K.QId)
      }) {
        k = nextSig(ts, nx); name = ts(k).text; nx = nextSig(ts, k)
      }
      val lower = name.toLowerCase
      if (keywords(lower) || noAutoAlias(lower)) return None
      // never leak internal spellings produced by LATER passes when the
      // fixpoint re-runs this one (graft_* twins, explode/inline
      // lowerings, flattened system-schema names)
      if (lower.startsWith("graft_") || lower.startsWith("_") ||
          lower == "explode" || lower == "inline" ||
          lower == "posexplode" || lower == "json_tuple" ||
          lower == "stack" ||
          lower == "try_element_at" || lower == "timetz" ||
          lower == "named_struct" || lower == "arrays_zip" ||
          lower == "forall" || lower == "exists" ||
          lower.contains("__")) return None
      if (nx < 0 || nx >= end || !ts(nx).isSym("(")) return None
      val close = matchFwd(ts, nx)
      if (close < 0 || close >= end) return None
      if (nextSig(ts, close) >= 0 && nextSig(ts, close) < end) return None
      // splice right after the call's closing paren so the item's own
      // trailing whitespace still separates the next clause
      Some(ts.slice(0, close + 1) ++ lex(s" AS ${name.toLowerCase}") ++
        ts.slice(close + 1, ts.length))
    }
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("select")) {
        var j = nextSig(ts, i)
        if (j >= 0 && ts(j).kind == K.Word &&
            (ts(j).is("distinct") || ts(j).is("all")))
          j = nextSig(ts, j)
        if (j >= 0) {
          var itemStart = j
          var k = j
          var depth = 0
          var done = false
          while (k < ts.length && !done) {
            val t = ts(k)
            if (t.isSym("(") || t.isSym("[") || t.isSym("{")) depth += 1
            else if (t.isSym(")") || t.isSym("]") || t.isSym("}")) {
              depth -= 1
              if (depth < 0) {
                tryAlias(itemStart, k).foreach(r => return Some(r))
                done = true
              }
            } else if (depth == 0 && (t.isSym(",") || clauseEnd(t))) {
              tryAlias(itemStart, k).foreach(r => return Some(r))
              if (clauseEnd(t)) done = true
              itemStart = k + 1
            }
            k += 1
          }
          if (!done) tryAlias(itemStart, ts.length).foreach(r => return Some(r))
        }
      }
      i += 1
    }
    None
  }

  /** Table functions through the SQL surface (reference
    * tablefunctions/: UnnestFunction, GenerateSeries,
    * GenerateSubscripts, MatchesFunction; docs table-functions.rst):
    *
    *  - `FROM unnest(a)` → `FROM explode(a) AS unnest_t(col1)`;
    *    `FROM unnest(a, b, …)` → `FROM inline(arrays_zip(a, b, …))
    *    AS unnest_t(col1, col2, …)` (arrays_zip NULL-pads the shorter
    *    arrays exactly like the reference); a user alias passes through.
    *  - `FROM generate_series(a, b[, step])` → explode(sequence(…))
    *    (Spark's sequence is inclusive on both ends and takes interval
    *    steps, same contract); default column `generate_series`.
    *  - `FROM f(args)` for any other non-keyword call — the reference's
    *    scalar-as-relation form — wraps to `(SELECT f(args) AS f)`.
    *    Only applies DIRECTLY after FROM or a FROM-list comma, so ON
    *    conditions and select-list calls are untouched.
    *  - select-position `generate_subscripts(…)` →
    *    `explode(graft_generate_subscripts(…))`.
    *  - `regexp_matches(args)` → subscripted form
    *    `regexp_matches(…)[n]` lowers to the scalar first-match groups
    *    (graft_regexp_groups); otherwise
    *    `explode(graft_regexp_matches_rows(…))` (row per match under
    *    the 'g' flag, first match only without it).
    */
  private def passTableFunctions(ts: Vector[Tok]): Option[Vector[Tok]] = {
    def argSplit(inner: Vector[Tok]): Vector[String] = {
      val parts = Vector.newBuilder[String]
      var depth = 0; var start = 0; var k = 0
      while (k < inner.length) {
        val t = inner(k)
        if (t.isSym("(") || t.isSym("[") || t.isSym("{")) depth += 1
        else if (t.isSym(")") || t.isSym("]") || t.isSym("}")) depth -= 1
        else if (t.isSym(",") && depth == 0) {
          parts += render(inner.slice(start, k)).trim; start = k + 1
        }
        k += 1
      }
      parts += render(inner.slice(start, inner.length)).trim
      parts.result()
    }
    def hasUserAlias(after: Int): Boolean = {
      val nx = nextSig(ts, after)
      nx >= 0 && ts(nx).kind == K.Word &&
        (ts(nx).is("as") || !keywords(ts(nx).text.toLowerCase))
    }
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word && ts.lift(i + 1).exists(_.isSym("(")) ||
          (t.kind == K.Word && nextSig(ts, i) >= 0 && ts(nextSig(ts, i)).isSym("("))) {
        val open = nextSig(ts, i)
        val close = if (open >= 0 && ts(open).isSym("(")) matchFwd(ts, open) else -1
        if (close > 0) {
          val prev = prevSig(ts, i)
          // directly after FROM, or after a comma whose clause (walking
          // back at depth 0) is a FROM list — so select-list commas and
          // ON conditions never match
          def fromContext(pos: Int): Boolean = {
            var k = pos; var depth = 0
            while (k >= 0) {
              val t0 = ts(k)
              if (t0.isSym(")") || t0.isSym("]") || t0.isSym("}")) depth += 1
              else if (t0.isSym("(") || t0.isSym("[") || t0.isSym("{")) {
                depth -= 1; if (depth < 0) return false
              } else if (depth == 0 && t0.kind == K.Word) {
                val w = t0.text.toLowerCase
                if (w == "from") return true
                if (w != "as" && (keywords(w) || w == "join" || w == "lateral"))
                  return false
              }
              k -= 1
            }
            false
          }
          val prevFrom = prev >= 0 &&
            ((ts(prev).kind == K.Word && ts(prev).is("from")) ||
             (ts(prev).isSym(",") && fromContext(prev - 1)))
          val args = argSplit(ts.slice(open + 1, close))
          val name = t.text.toLowerCase
          def splice(repl: String, endTok: Int): Option[Vector[Tok]] =
            Some(ts.slice(0, i) ++ lex(repl) ++ ts.slice(endTok + 1, ts.length))
          if (prevFrom && name == "unnest") {
            val core =
              if (args.length == 1) s"explode(${args.head})"
              else s"inline(arrays_zip(${args.mkString(", ")}))"
            val alias =
              if (hasUserAlias(close)) ""
              else if (args.length == 1) " AS unnest_t(col1)"
              else args.indices.map(k => s"col${k + 1}")
                .mkString(" AS unnest_t(", ", ", ")")
            return splice(core + alias, close)
          }
          if (prevFrom && name == "generate_series") {
            val alias = if (hasUserAlias(close)) ""
                        else " AS gs_t(generate_series)"
            return splice(s"explode(sequence(${args.mkString(", ")}))" + alias,
              close)
          }
          if (name == "generate_subscripts")
            return splice(
              s"explode(graft_generate_subscripts(${args.mkString(", ")}))",
              close)
          if (name == "regexp_matches") {
            val withFlags = if (args.length >= 3) args else args :+ "''"
            val nx = nextSig(ts, close)
            val repl =
              if (nx >= 0 && ts(nx).isSym("["))
                s"graft_regexp_groups(${withFlags.mkString(", ")})"
              else {
                val core =
                  s"explode(graft_regexp_matches_rows(${withFlags.mkString(", ")}))"
                if (prevFrom && !hasUserAlias(close))
                  core + " AS rm_t(regexp_matches)"
                else core
              }
            return splice(repl, close)
          }
          if (!prevFrom && name == "unnest")
            // select-position unnest is Spark's explode generator
            return Some(ts.updated(i, Tok(K.Word, "explode")))
          if (prevFrom && name == "information_schema__pg_expandarray")
            // the registered Catalyst Generator in FROM position: a
            // generator projection with the reference's (x, n) columns
            return splice("(SELECT information_schema__pg_expandarray(" +
              s"${args.mkString(", ")}) AS (x, n))", close)
          if (prevFrom && !keywords(name) && name != "explode" &&
              name != "inline" && name != "posexplode" && name != "range" &&
              name != "stack" && name != "values" && name != "lateral" &&
              name != "empty_row" && name != "table" &&
              name != "pg_get_keywords" && name != "_pg_expandarray" &&
              prev >= 0 && !ts(prev).isSym(".")) {
            // scalar-as-relation: one row, one column named like the fn
            val inner = render(ts.slice(i, close + 1))
            return splice(s"(SELECT $inner AS $name)", close)
          }
        }
      }
      i += 1
    }
    None
  }

  /** Select lists consisting solely of `unnest(...)` items with no FROM
    * (docs table-functions.rst: `select unnest([1,2,3]), unnest([1,2])`
    * zips row-wise, shorter arrays NULL-padded, every column named
    * `unnest`). */
  private def passSelectUnnest(ts: Vector[Tok]): Option[Vector[Tok]] = {
    val sig = ts.zipWithIndex.filter(_._1.sig)
    if (sig.isEmpty || !(sig.head._1.kind == K.Word && sig.head._1.is("select")))
      return None
    if (sig.exists(p => p._1.kind == K.Word && p._1.is("from"))) return None
    // items between SELECT and end, split on top-level commas
    val body = ts.drop(sig.head._2 + 1)
    val items = {
      val parts = Vector.newBuilder[Vector[Tok]]
      var depth = 0; var start = 0; var k = 0
      while (k < body.length) {
        val t = body(k)
        if (t.isSym("(") || t.isSym("[") || t.isSym("{")) depth += 1
        else if (t.isSym(")") || t.isSym("]") || t.isSym("}")) depth -= 1
        else if (t.isSym(",") && depth == 0) {
          parts += body.slice(start, k); start = k + 1
        }
        k += 1
      }
      parts += body.slice(start, body.length)
      parts.result()
    }
    def unnestArg(item: Vector[Tok]): Option[String] = {
      val s = item.filter(_.sig)
      if (s.length >= 3 && s.head.kind == K.Word && s.head.is("unnest")) {
        val first = item.indexWhere(_.sig)
        val open = nextSig(item, first)
        if (open >= 0 && item(open).isSym("(")) {
          val close = matchFwd(item, open)
          if (close > 0 && nextSig(item, close) < 0)
            return Some(render(item.slice(open + 1, close)).trim)
        }
      }
      None
    }
    val args = items.map(unnestArg)
    if (args.exists(_.isEmpty)) return None
    val as = args.flatten
    if (as.length == 1)
      return Some(lex(s"SELECT explode(${as.head}) AS unnest"))
    val aliases = as.indices.map(_ => "unnest").mkString(", ")
    Some(lex(s"SELECT * FROM inline(arrays_zip(${as.mkString(", ")})) " +
      s"AS unnest_t($aliases)"))
  }

  /** `a || b` (reference parser AstBuilder.visitConcatenation → the
    * `op_||` function family, ConcatFunction.java): lowered to
    * `graft_op_concat(a, b)`, which dispatches on the RESOLVED operand
    * types — strings strict-null (== Spark's own `||`), arrays
    * null-skipping array_cat, array||element append with null elements
    * ignored, element||array prepend, objects first-level merge. Spark's
    * native `||` only covers the string/binary/array-cat strict-null
    * arms, so the operator must route through the dispatcher. Chained
    * `a || b || c` splices left-associatively across pass iterations.
    * Operands are simple expressions (same shapes as [[passArrayOverlap]]).
    */
  private def passPipeConcat(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("||")) {
        val lhsEnd = prevSig(ts, i)
        val rhsStart = nextSig(ts, i)
        if (lhsEnd >= 0 && rhsStart >= 0) {
          val lhsStart = operandStart(ts, lhsEnd)
          val rhsEnd = operandEnd(ts, rhsStart)
          val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
          val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
          val repl = lex(s"graft_op_concat($lhs, $rhs)")
          return Some(ts.slice(0, lhsStart) ++ repl ++ ts.slice(rhsEnd + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  /** `<ts> AT TIME ZONE <zone>` (reference grammar SqlBaseParser.g4
    * `AT TIME ZONE`, parsed as a plain call to `timezone(zone, ts)` —
    * AtTimezoneSyntaxFunctionTest): Spark has no AT TIME ZONE syntax,
    * so the Dialect lowers it to the registered timezone() twin with
    * the reference's (zone, ts) argument order. */
  private def passAtTimeZone(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("at")) {
        val j = nextSig(ts, i)
        val k = if (j >= 0) nextSig(ts, j) else -1
        if (j >= 0 && k >= 0 && ts(j).kind == K.Word && ts(j).is("time") &&
            ts(k).kind == K.Word && ts(k).is("zone")) {
          val lhsEnd = prevSig(ts, i)
          val rhsStart = nextSig(ts, k)
          if (lhsEnd >= 0 && rhsStart >= 0) {
            val lhsStart = operandStart(ts, lhsEnd)
            val rhsEnd = operandEnd(ts, rhsStart)
            val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
            val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
            val repl = lex(s"timezone($rhs, $lhs)")
            return Some(ts.slice(0, lhsStart) ++ repl ++ ts.slice(rhsEnd + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  /** The `_score` system column (reference docs/general/ddl/system-columns
    * .rst, docs/general/dql/fulltext.rst): relevance of the statement's
    * MATCH predicate, 1.0 when the query has none. Runs after [[passMatch]]
    * (list order guarantees MATCH is already lowered to `match_text`), so
    * `_score` resolves to `graft_match_score(col, 'query')` over the FIRST
    * match predicate's column/query pair — a per-row BM25-style
    * term-frequency saturation score (Σ tf/(tf+k1)). Like the reference's
    * Lucene scores, the absolute values are engine-specific and only
    * meaningful as a ranking WITHIN one query; the formula is deterministic
    * and oracle-replayable, which Lucene's is not. */
  /** Multi-field `_score` with per-field boosts (reference MultiMatch,
    * `docs/general/dql/fulltext.rst` — `MATCH((title 2.0, body), 'q')
    * USING best_fields|most_fields`). Runs BEFORE [[passMatch]], while the
    * boosts are still visible in the raw MATCH argument list: `_score`
    * lowers to SQL over the per-field TF-saturation score —
    * best_fields (the reference's default) takes the best field
    * (`greatest`), most_fields sums the weighted fields. Other methods
    * (phrase & co.) and single-column MATCH fall through to [[passScore]].
    */
  private def passScoreMulti(ts: Vector[Tok]): Option[Vector[Tok]] = {
    val si = ts.indexWhere(t => t.kind == K.Word && t.is("_score"))
    if (si < 0) return None
    var j = 0
    while (j < ts.length) {
      if (ts(j).kind == K.Word && ts(j).is("match")) {
        val par = nextSig(ts, j)
        if (par >= 0 && ts(par).isSym("(")) {
          val close = matchFwd(ts, par)
          if (close > 0) {
            val args = ts.slice(par + 1, close).filter(_.sig)
            if (args.headOption.exists(_.isSym("("))) {
              val innerClose = matchFwd(args, 0)
              val queryTok =
                if (innerClose > 0) args.drop(innerClose + 1).find(_.kind == K.Str)
                else None
              val cols =
                if (innerClose > 0) splitCommas(args.slice(1, innerClose))
                else Seq.empty
              if (cols.length >= 2 && queryTok.isDefined) {
                var method = "best_fields"
                val u = nextSig(ts, close)
                if (u >= 0 && ts(u).is("using")) {
                  val m = nextSig(ts, u)
                  if (m >= 0 && ts(m).kind == K.Word) method = ts(m).text.toLowerCase
                }
                if (method == "best_fields" || method == "most_fields") {
                  val q = queryTok.get.text
                  val parts = cols.map { c =>
                    val sigc = c.filter(_.sig)
                    val (colToks, boost) = sigc.lastOption match {
                      case Some(t) if t.kind == K.Num && sigc.length > 1 =>
                        (sigc.dropRight(1), t.text)
                      case _ => (sigc, "1.0")
                    }
                    s"($boost * graft_match_score(${render(colToks)}, $q))"
                  }
                  val expr =
                    if (method == "best_fields") parts.mkString("greatest(", ", ", ")")
                    else parts.mkString("(", " + ", ")")
                  return Some(ts.slice(0, si) ++ lex(expr) ++ ts.slice(si + 1, ts.length))
                }
              }
            }
          }
        }
      }
      j += 1
    }
    None
  }

  /** `WHERE knn_match(vec_col, query_vector, k)` (reference
    * `expression/scalar/KnnMatch.java:48`, docs/general/dql/vector-search
    * .rst): the predicate form of vector search — true for the k rows
    * nearest to the literal query vector, `_score` carrying the
    * similarity (the reference's float_vector default is EUCLIDEAN, so
    * `_score = vector_similarity = 1/(1+l2²)`, Lucene's convention).
    *
    * Lowered to an exact top-k subquery:
    * {{{
    *   SELECT <proj> FROM (
    *     SELECT *, CAST(vector_similarity(col, vec) AS DOUBLE)
    *            AS graft_knn_score
    *     FROM t [alias] [WHERE <other conjuncts>]
    *     ORDER BY graft_knn_score DESC LIMIT k
    *   ) alias <tail>
    * }}}
    * ORDER BY+LIMIT plans as TakeOrderedAndProject — per-partition heap
    * top-k then a k-row driver merge, never a global sort — so the shape
    * scales to a full-corpus scan the same way the reference's exact
    * fallback does. Other WHERE conjuncts move INTO the subquery: like
    * the reference (Lucene searches over the filter's docset), filters
    * apply BEFORE the k-selection, so k matching rows come back.
    * [[graft.StatementRouter]] upgrades the same shape to a stored
    * quantized IVF index scan when the table declares one; this pass is
    * the index-less fallback. Conservative: single-table SELECT, one
    * knn_match standing as a depth-0 WHERE conjunct, no OR around it —
    * anything else falls through (and knn_match then errors loudly as an
    * unknown function rather than silently mis-filtering). */
  private def passKnnMatch(ts: Vector[Tok]): Option[Vector[Tok]] = {
    val ki = ts.indexWhere(t => t.kind == K.Word && t.is("knn_match"))
    if (ki < 0) return None
    if (ts.indexWhere(t => t.kind == K.Word && t.is("knn_match"), ki + 1) >= 0)
      return None
    // depth-0 scan for a keyword, between from and until
    def topIdx(word: String, from: Int, until: Int): Int = {
      var depth = 0; var i = from
      while (i < until) {
        val t = ts(i)
        if (t.isSym("(") || t.isSym("[")) depth += 1
        else if (t.isSym(")") || t.isSym("]")) depth -= 1
        else if (depth == 0 && t.kind == K.Word && t.is(word)) return i
        i += 1
      }
      -1
    }
    val par = nextSig(ts, ki)
    if (par < 0 || !ts(par).isSym("(")) return None
    val close = matchFwd(ts, par)
    if (close < 0) return None
    // bracket-aware comma split: the query vector is usually a raw
    // `[v1, v2, …]` literal whose commas must not count. Rendered WITH
    // the original whitespace tokens — a subquery-valued vector
    // expression needs its separators back
    val parts = locally {
      val v = ts.slice(par + 1, close)
      val out = scala.collection.mutable.ArrayBuffer.empty[Vector[Tok]]
      var dep = 0; var b = Vector.newBuilder[Tok]
      for (t <- v) {
        if (t.isSym("(") || t.isSym("[") || t.isSym("{")) dep += 1
        if (t.isSym(")") || t.isSym("]") || t.isSym("}")) dep -= 1
        if (t.sig && t.isSym(",") && dep == 0) {
          out += b.result(); b = Vector.newBuilder[Tok]
        } else b += t
      }
      out += b.result()
      out.toSeq
    }
    if (parts.length != 3 || parts.exists(_.forall(!_.sig))) return None
    val colR = render(parts(0)).trim
    val vecR = render(parts(1)).trim
    val kR = render(parts(2).filter(_.sig)).trim

    val first = ts.indexWhere(_.sig)
    if (first < 0 || !ts(first).is("select")) return None
    val fi = topIdx("from", first + 1, ts.length)
    if (fi < 0) return None
    val wi = topIdx("where", fi + 1, ts.length)
    if (wi < 0 || ki < wi) return None
    // single-relation FROM only
    if (topIdx("join", fi, wi) >= 0 || topIdx("union", first, ts.length) >= 0)
      return None

    // FROM <tbl[.part]> [AS] [alias] — must run straight into WHERE
    var ti = nextSig(ts, fi)
    if (ti < 0 || !ts(ti).isWord) return None
    var tblR = ts(ti).text
    var cursor = nextSig(ts, ti)
    if (cursor >= 0 && ts(cursor).isSym(".")) {
      val pn = nextSig(ts, cursor)
      if (pn < 0 || !ts(pn).isWord) return None
      tblR = s"$tblR.${ts(pn).text}"; cursor = nextSig(ts, pn)
    }
    var alias = ""
    if (cursor >= 0 && ts(cursor).is("as")) {
      val an = nextSig(ts, cursor)
      if (an < 0 || !ts(an).isWord) return None
      alias = ts(an).text; cursor = nextSig(ts, an)
    } else if (cursor >= 0 && ts(cursor).isWord && !ts(cursor).is("where")) {
      alias = ts(cursor).text; cursor = nextSig(ts, cursor)
    }
    if (cursor != wi) return None

    // WHERE body: depth-0 AND conjuncts, no depth-0 OR, knn standing alone
    val stopWords = Set("group", "order", "limit", "having", "window", "offset")
    var tailStart = ts.length
    locally {
      var depth = 0; var i = wi + 1
      while (i < ts.length && tailStart == ts.length) {
        val t = ts(i)
        if (t.isSym("(") || t.isSym("[")) depth += 1
        else if (t.isSym(")") || t.isSym("]")) depth -= 1
        else if (depth == 0 && t.kind == K.Word &&
                 stopWords.contains(t.text.toLowerCase)) tailStart = i
        i += 1
      }
    }
    if (topIdx("or", wi + 1, tailStart) >= 0) return None
    // collect conjunct boundaries (depth-0 ANDs). The AND inside a
    // depth-0 `x BETWEEN a AND b` is the range separator, not a conjunct
    // boundary — pair it with its BETWEEN and skip it
    val andIdxs = scala.collection.mutable.ArrayBuffer.empty[Int]
    locally {
      var depth = 0; var betweenPending = false
      for (i <- wi + 1 until tailStart) {
        val t = ts(i)
        if (t.isSym("(") || t.isSym("[")) depth += 1
        else if (t.isSym(")") || t.isSym("]")) depth -= 1
        else if (depth == 0 && t.kind == K.Word && t.is("between"))
          betweenPending = true
        else if (depth == 0 && t.kind == K.Word && t.is("and")) {
          if (betweenPending) betweenPending = false else andIdxs += i
        }
      }
    }
    val bounds = (Seq(wi) ++ andIdxs ++ Seq(tailStart)).sliding(2).toSeq
    val conjuncts = bounds.map { case Seq(a, b) => (a + 1, b) }
    val knnConj = conjuncts.find { case (a, b) => a <= ki && close < b }
      .getOrElse(return None)
    // the knn conjunct must be exactly the call
    val conjSig = (knnConj._1 until knnConj._2).filter(i => ts(i).sig)
    if (conjSig.headOption != Some(ki) || conjSig.lastOption != Some(close))
      return None
    // sig tokens joined with single spaces: drops `--`/`/* */` comments
    // (raw render would embed a line comment that comments out the
    // generated closing paren) while keeping word separation
    val rest = conjuncts.filterNot(_ == knnConj)
      .map { case (a, b) =>
        ts.slice(a, b).filter(_.sig).map(_.text).mkString(" ").trim }
      .filter(_.nonEmpty)
    if (rest.exists(_.toLowerCase.contains("_score"))) return None

    val projOut = locally {
      val v = ts.slice(first + 1, fi)
      val sigs = v.indices.filter(i => v(i).sig)
      v.indices.flatMap { i =>
        val t = v(i)
        if (t.kind == K.Word && t.is("_score")) lex("graft_knn_score")
        else if (t.isSym("*") && {
          // a projection-item star — bare (`SELECT *` / `SELECT *, x`) or
          // qualified (`SELECT v.*`) — not multiplication or count(*):
          // bounded by SELECT-start/comma at depth 0. Both forms must
          // hide the internal score column or it leaks into the schema
          val pos = sigs.indexOf(i)
          val nextOk = pos == sigs.length - 1 || v(sigs(pos + 1)).isSym(",")
          val bare = pos <= 0 || v(sigs(pos - 1)).isSym(",")
          val qualified = pos >= 2 && v(sigs(pos - 1)).isSym(".") &&
            v(sigs(pos - 2)).isWord &&
            (pos == 2 || v(sigs(pos - 3)).isSym(","))
          nextOk && (bare || qualified)
        }) lex("* EXCEPT (graft_knn_score)")
        else Vector(t)
      }.toVector
    }
    val projOutR = render(projOut)
    val tailOut = render(ts.slice(tailStart, ts.length).flatMap { t =>
      if (t.kind == K.Word && t.is("_score")) lex("graft_knn_score") else Vector(t)
    })
    val aliasOut = if (alias.nonEmpty) alias else "graft_knn"
    val innerWhere = if (rest.isEmpty) "" else rest.mkString(" WHERE (", ") AND (", ")")
    val sqlOut =
      s"""SELECT $projOutR FROM (
         |  SELECT *, CAST(vector_similarity($colR, $vecR) AS DOUBLE) AS graft_knn_score
         |  FROM $tblR${if (alias.nonEmpty) s" $alias" else ""}$innerWhere
         |  ORDER BY graft_knn_score DESC LIMIT $kR
         |) $aliasOut $tailOut""".stripMargin
    Some(lex(sqlOut))
  }

  private def passScore(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("_score")) {
        var m = -1; var j = 0
        while (j < ts.length && m < 0) {
          if (ts(j).kind == K.Word &&
            (ts(j).is("match_text") || ts(j).is("match_text_analyzed"))) {
            val p = nextSig(ts, j)
            if (p >= 0 && ts(p).isSym("(")) m = p
          }
          j += 1
        }
        val repl =
          if (m < 0) lex("CAST(1.0 AS DOUBLE)")
          else {
            val c = matchFwd(ts, m)
            val parts = splitCommas(ts.slice(m + 1, c)).take(2)
              .map(p => render(p).trim)
            lex(s"graft_match_score(${parts.mkString(", ")})")
          }
        return Some(ts.slice(0, i) ++ repl ++ ts.slice(i + 1, ts.length))
      }
      i += 1
    }
    None
  }

  /** `empty_row()` table function (reference tablefunctions/EmptyRowTable
    * Function.java — one row, zero columns, used as a FROM-less scalar
    * evaluation target). Spark relations can't have zero columns, so the
    * row carries one NULL dummy column; `SELECT *` shows it (documented
    * divergence), `SELECT <exprs> FROM empty_row()` behaves identically. */
  private def passEmptyRow(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("empty_row")) {
        val op = nextSig(ts, i)
        val cl = if (op >= 0 && ts(op).isSym("(")) nextSig(ts, op) else -1
        if (cl >= 0 && ts(cl).isSym(")")) {
          val repl = lex("(SELECT NULL AS _er) AS graft_empty_row")
          return Some(ts.slice(0, i) ++ repl ++ ts.slice(cl + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  /** `substring(x FROM y [FOR z])` → `substr(x, y[, z])`: Spark's
    * parser maps the FROM form DIRECTLY to its builtin Substring
    * expression (bypassing the function registry), which would defeat
    * the reference-semantics substr override — in the reference the
    * FROM form is plain sugar for the function call, including the
    * (string, string) regex-extract overload
    * (SubstrFunctionTest: substring('foobar' FROM 'o.b')). */
  private def passSubstringFrom(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i).is("substring") && ts.lift(nextSig(ts, i)).exists(_.isSym("("))) {
        val open = nextSig(ts, i)
        val close = matchFwd(ts, open)
        if (close > 0) {
          val inner = ts.slice(open + 1, close)
          var depth = 0
          var fromAt = -1
          var forAt = -1
          inner.zipWithIndex.foreach { case (t, k) =>
            if (t.isSym("(")) depth += 1
            else if (t.isSym(")")) depth -= 1
            else if (depth == 0 && t.is("from") && fromAt < 0) fromAt = k
            else if (depth == 0 && t.is("for") && forAt < 0) forAt = k
          }
          if (fromAt > 0) {
            val arg0 = render(inner.slice(0, fromAt))
            val arg1 = render(inner.slice(fromAt + 1,
              if (forAt > fromAt) forAt else inner.length))
            val arg2 = if (forAt > fromAt)
              Some(render(inner.slice(forAt + 1, inner.length))) else None
            val repl = lex(
              s"substr($arg0, $arg1${arg2.map(", " + _).getOrElse("")})")
            return Some(ts.slice(0, i) ++ repl ++
              ts.slice(close + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  /** The reference's CIDR containment operator (CIDROperator.java:48):
    * `a << b` → graft_contained_within(a, b). In the reference grammar
    * `<<` is ONLY this operator (there is no integer shift), so the
    * token-level rewrite is unambiguous. */
  private def passCidrOp(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isSym("<<")) {
        val lhsEnd = prevSig(ts, i)
        val rhsStart = nextSig(ts, i)
        if (lhsEnd >= 0 && rhsStart >= 0) {
          val lhsStart = operandStart(ts, lhsEnd)
          val rhsEnd = operandEnd(ts, rhsStart)
          val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
          val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
          val repl = lex(s"graft_contained_within($lhs, $rhs)")
          return Some(ts.slice(0, lhsStart) ++ repl ++
            ts.slice(rhsEnd + 1, ts.length))
        }
      }
      i += 1
    }
    None
  }

  /** PG/CrateDB regex-match operators (RegexpMatchOperator.java:80):
    * `a ~ 'p'` → graft_regexp_match (FULL-string match, Lucene RegExp
    * syntax unless the pattern has PCRE features — rlike's substring
    * find was wrong on both counts), `~*` → graft_regexp_match_ci
    * (java.util.regex CASE_INSENSITIVE|UNICODE_CASE, .matches()),
    * `!~`/`!~*` negated. Binary use only — a `~` with no operand on its
    * left is Spark's bitwise NOT and is left alone. PG bitwise XOR `#`
    * → Spark `^`. */
  private def passRegexOps(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      val neg = t.isSym("!~")
      val negCi = neg && i + 1 < ts.length && ts(i + 1).isSym("*")
      val ci = t.isSym("~*")
      // `#` is the reference's bitwise XOR and `^` its POWER operator
      // (arithmetic.rst; Spark's ^ is xor) — both lower to calls so the
      // spellings can never collide across pass iterations
      if (t.isSym("#") || t.isSym("^")) {
        val lhsEnd = prevSig(ts, i)
        val rhsStart = nextSig(ts, i)
        if (lhsEnd >= 0 && rhsStart >= 0) {
          val lhsStart = operandStart(ts, lhsEnd)
          val rhsEnd = operandEnd(ts, rhsStart)
          val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
          val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
          val fn = if (t.isSym("#")) "graft_bitxor" else "power"
          return Some(ts.slice(0, lhsStart) ++ lex(s"$fn($lhs, $rhs)") ++
            ts.slice(rhsEnd + 1, ts.length))
        }
      }
      if (t.isSym("~") || ci || neg) {
        val lhsEnd = prevSig(ts, i)
        val binary = lhsEnd >= 0 && {
          val p = ts(lhsEnd)
          p.kind == K.Word && !keywords(p.text.toLowerCase) ||
            p.kind == K.QId || p.kind == K.Str || p.isSym(")") || p.isSym("]")
        }
        if (binary) {
          val rhsStart = nextSig(ts, if (negCi) i + 1 else i)
          if (rhsStart >= 0) {
            val lhsStart = operandStart(ts, lhsEnd)
            val rhsEnd = operandEnd(ts, rhsStart)
            val lhs = render(ts.slice(lhsStart, lhsEnd + 1))
            val rhs = render(ts.slice(rhsStart, rhsEnd + 1))
            val body =
              if (ci || negCi) s"graft_regexp_match_ci($lhs, $rhs)"
              else s"graft_regexp_match($lhs, $rhs)"
            val repl = lex(if (neg) s"NOT ($body)" else s"($body)")
            return Some(ts.slice(0, lhsStart) ++ repl ++ ts.slice(rhsEnd + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  /** Rewrite `lhs <op> ANY|ALL (SELECT item FROM …)` to 3VL-exact Spark
    * SQL. `= ANY`/`<> ALL` map to IN/NOT IN directly. Ordering operators
    * summarize the subquery with injected min/max/count aggregates, which
    * requires a single un-aliased select item and no top-level
    * DISTINCT/GROUP/ORDER/LIMIT/set-op (those change set membership or
    * defeat the aggregate injection) — unsupported shapes are left
    * untranslated so Spark reports the original statement. */
  private def quantifiedSubquery(lhs: String, op: String, quant: String,
                                 inner: Vector[Tok]): Option[String] = {
    val isAll = quant == "all"
    // locate SELECT … FROM at depth 0
    var depth = 0; var selIdx = -1; var fromIdx = -1; var k = 0
    var bad = false; var commaAtTop = false
    while (k < inner.length) {
      val x = inner(k)
      if (x.isSym("(")) depth += 1
      else if (x.isSym(")")) depth -= 1
      else if (depth == 0 && x.sig) {
        if (x.is("select") && selIdx < 0) selIdx = k
        else if (x.is("from") && fromIdx < 0) fromIdx = k
        else if (x.isSym(",") && fromIdx < 0) commaAtTop = true
        else if (x.is("distinct") && fromIdx < 0) bad = true
        else if (x.is("group") || x.is("order") || x.is("limit") ||
          x.is("having") || x.is("union") || x.is("intersect") ||
          x.is("except")) bad = true
      }
      k += 1
    }
    if (selIdx != inner.indexWhere(_.sig) || fromIdx < 0 || commaAtTop || bad)
      return None
    val item = render(inner.slice(selIdx + 1, fromIdx)).trim
    val rest = render(inner.slice(fromIdx, inner.length)).trim
    def q(agg: String) = s"(SELECT $agg $rest)"
    val cnt = q("count(*)")
    val nulls = q(s"count(CASE WHEN ($item) IS NULL THEN 1 END)")
    val nul = "CAST(NULL AS BOOLEAN)"
    op match {
      case ">" | ">=" | "<" | "<=" =>
        val bound = if ((op == ">" || op == ">=") ^ isAll) q(s"min($item)") else q(s"max($item)")
        Some(if (isAll)
          s"CASE WHEN $cnt = 0 THEN TRUE WHEN NOT (($lhs) $op $bound) THEN FALSE " +
            s"WHEN $nulls > 0 OR ($lhs) IS NULL THEN $nul ELSE TRUE END"
        else
          s"CASE WHEN $cnt = 0 THEN FALSE WHEN ($lhs) $op $bound THEN TRUE " +
            s"WHEN $nulls > 0 OR ($lhs) IS NULL THEN $nul ELSE FALSE END")
      case "=" | "<>" | "!=" =>
        // The lhs operand must NEVER appear inside subquery scope: a
        // same-named inner column would capture it (`y = ANY (SELECT y
        // FROM u)` binding both sides to u.y), and keeping it outside is
        // also what lets correlated inner queries translate — the injected
        // aggregates preserve the correlation predicates verbatim and
        // Catalyst decorrelates them. Membership itself uses IN (TRUE is
        // reliable in any position; Spark collapses only the undecidable
        // case, which the surrounding CASE resolves from the null counts),
        // and the differs-from-lhs test uses min/max: all non-null items
        // equal lhs ⟺ min = max = lhs.
        val members = q(item)
        val mn = q(s"min($item)"); val mx = q(s"max($item)")
        Some((op, isAll) match {
          case ("=", false) => // = ANY
            s"CASE WHEN $cnt = 0 THEN FALSE WHEN ($lhs) IN $members THEN TRUE " +
              s"WHEN $nulls > 0 OR ($lhs) IS NULL THEN $nul ELSE FALSE END"
          case ("=", true) => // = ALL
            s"CASE WHEN $cnt = 0 THEN TRUE WHEN ($lhs) IS NULL THEN $nul " +
              s"WHEN $mn <> ($lhs) OR $mx <> ($lhs) THEN FALSE " +
              s"WHEN $nulls > 0 THEN $nul ELSE TRUE END"
          case (_, false) => // <> ANY
            s"CASE WHEN $cnt = 0 THEN FALSE WHEN ($lhs) IS NULL THEN $nul " +
              s"WHEN $mn <> ($lhs) OR $mx <> ($lhs) THEN TRUE " +
              s"WHEN $nulls > 0 THEN $nul ELSE FALSE END"
          case (_, true) => // <> ALL
            s"CASE WHEN $cnt = 0 THEN TRUE WHEN ($lhs) IN $members THEN FALSE " +
              s"WHEN $nulls > 0 OR ($lhs) IS NULL THEN $nul ELSE TRUE END"
        })
      case _ => None
    }
  }

  /** `ARRAY(SELECT item FROM …)` constructor (CrateDB array-subquery,
    * `ArrayFunction.java` + analyzer support) → a scalar subquery with
    * `collect_list` injected around the single select item. Same shape
    * guard as [[quantifiedSubquery]]; additionally rejects ORDER BY
    * (collect_list gives no order guarantee — better untranslated than
    * silently unordered). */
  private def passArraySubquery(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word && t.is("array")) {
        val par = nextSig(ts, i)
        if (par >= 0 && ts(par).isSym("(")) {
          val close = matchFwd(ts, par)
          val inner = ts.slice(par + 1, close)
          if (close > 0 && inner.find(_.sig).exists(_.is("select"))) {
            collectListSubquery(inner).foreach { sql =>
              return Some(ts.slice(0, i) ++ lex(sql) ++ ts.slice(close + 1, ts.length))
            }
            // unsupported shape: rename so the pass cannot loop, Spark
            // then reports the unresolved function with the original text
            return Some(ts.updated(i, Tok(K.Word, "array_subquery_unsupported")))
          }
        }
      }
      i += 1
    }
    None
  }

  private def collectListSubquery(inner: Vector[Tok]): Option[String] = {
    var depth = 0; var selIdx = -1; var fromIdx = -1; var k = 0
    var bad = false; var commaAtTop = false
    while (k < inner.length) {
      val x = inner(k)
      if (x.isSym("(")) depth += 1
      else if (x.isSym(")")) depth -= 1
      else if (depth == 0 && x.sig) {
        if (x.is("select") && selIdx < 0) selIdx = k
        else if (x.is("from") && fromIdx < 0) fromIdx = k
        else if (x.isSym(",") && fromIdx < 0) commaAtTop = true
        else if (x.is("distinct") && fromIdx < 0) bad = true
        else if (x.is("group") || x.is("order") || x.is("limit") ||
          x.is("having") || x.is("union") || x.is("intersect") ||
          x.is("except")) bad = true
      }
      k += 1
    }
    if (selIdx != inner.indexWhere(_.sig) || fromIdx < 0 || commaAtTop || bad) None
    else {
      val item = render(inner.slice(selIdx + 1, fromIdx)).trim
      val rest = render(inner.slice(fromIdx, inner.length)).trim
      Some(s"(SELECT coalesce(collect_list($item), array()) $rest)")
    }
  }

  /** Bare `CURRENT_USER` / `SESSION_USER` / `CURRENT_ROLE` → the
    * registered 0-arity functions (reference grammar treats them as
    * parameterless special functions; Spark's own bare CURRENT_USER
    * resolves to the process user and would bypass SET SESSION
    * AUTHORIZATION). */
  private def passSessionKeywords(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == K.Word &&
          (t.is("current_user") || t.is("session_user") ||
           t.is("current_role") || t.is("current_catalog") ||
           t.is("current_schema"))) {
        val nx = nextSig(ts, i)
        val pv = prevSig(ts, i)
        if ((nx < 0 || !ts(nx).isSym("(")) && (pv < 0 || !ts(pv).isSym(".")) &&
            (pv < 0 || !(ts(pv).kind == K.Word && ts(pv).is("as"))))
          return Some(ts.take(i) ++ Vector(Tok(K.Word, t.text.toLowerCase),
            Tok(K.Sym, "("), Tok(K.Sym, ")")) ++ ts.drop(i + 1))
      }
      i += 1
    }
    None
  }

  /** `B'0101'` bit-string literals (reference BitString.java:31,
    * SqlBaseLexer BIT_STRING): the raw bits become a plain string
    * literal — equality and ordering on the '0'/'1' text match
    * BitString.compareTo exactly, and typed BIT(n) columns enforce
    * length at write time. Invalid characters fail here, at parse. */
  private def passBitLiteral(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length - 1) {
      val t = ts(i)
      if (t.kind == K.Word && (t.text == "B" || t.text == "b") &&
          ts(i + 1).kind == K.Str) {
        val raw = ts(i + 1).text.stripPrefix("'").stripSuffix("'")
        require(raw.forall(c => c == '0' || c == '1'),
          s"""invalid bit string literal B'$raw' (0/1 only)""")
        return Some(ts.slice(0, i) ++ lex(s"'$raw'") ++
          ts.slice(i + 2, ts.length))
      }
      i += 1
    }
    None
  }

  /** `CAST(x AS bit(n) | timetz | time with time zone)` → the fringe
    * cast functions (the `::` form is handled by [[passCasts]]). */
  private def passCastAsFringe(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i).is("cast") && ts.lift(i + 1).exists(_.isSym("("))) {
        val close = matchFwd(ts, i + 1)
        val inner = ts.slice(i + 2, close)
        // the AS at depth 0 splits operand from type
        var depth = 0
        var asAt = -1
        inner.zipWithIndex.foreach { case (t, k) =>
          if (t.isSym("(")) depth += 1
          else if (t.isSym(")")) depth -= 1
          else if (depth == 0 && t.is("as") && asAt < 0) asAt = k
        }
        if (asAt > 0) {
          val tyToks = inner.slice(asAt + 1, inner.length).filter(_.sig)
          val operand = render(inner.slice(0, asAt))
          val head = tyToks.headOption.map(_.text.toLowerCase).getOrElse("")
          val repl: Option[String] =
            if (head == "bit") {
              val n = if (tyToks.length >= 3 && tyToks(1).isSym("("))
                tyToks(2).text.toInt else 1
              Some(s"graft_bit_cast($operand, $n)")
            } else if (head == "timetz" ||
                (head == "time" && tyToks.length >= 2 && tyToks(1).is("with")))
              Some(s"timetz($operand)")
            else if (head == "interval" && tyToks.length == 1)
              // CAST(x AS interval) — the reference string grammar;
              // typed forms (INTERVAL … HOUR TO MINUTE) stay native
              Some(s"graft_interval($operand)")
            else if (head == "timestamp" || head == "timestamptz") {
              // the reference cast: bare-integer strings/numbers are
              // epoch MILLIS, doubles are seconds, the string grammar
              // is loud (TimestampType.implicitCast); bare `timestamp`
              // is WITHOUT tz (offsets parsed but ignored),
              // `timestamptz`/`with time zone` applies them.
              // timestamp/date operands pass through unchanged.
              val withTz = head == "timestamptz" ||
                (tyToks.length >= 2 && tyToks(1).is("with"))
              Some(s"graft_ts_cast($operand, $withTz)")
            } else if (head == "date" && tyToks.length == 1 &&
                operand.trim.toUpperCase != "NULL")
              Some(s"graft_date_cast($operand)")
            else if ((head == "boolean" || head == "bool") &&
                tyToks.length == 1 &&
                // a literal-NULL cast (incl. the dialect's OWN typed-null
                // emissions in quantified rewrites) has no semantics to
                // fix — keep Spark's CAST
                operand.trim.toUpperCase != "NULL")
              Some(s"graft_bool_cast($operand)")
            else if ((head == "regclass" || head == "regproc" ||
                head == "regtype") && tyToks.length == 1)
              Some(s"graft_${head}_cast($operand)")
            else if (head == "json" && tyToks.length == 1)
              Some(s"graft_json_cast($operand)")
            else None
          repl.foreach { f =>
            return Some(ts.slice(0, i) ++ lex(f) ++
              ts.slice(close + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  /** `INTERVAL [+|-] '<str>' [unit [TO unit]]` — the reference's
    * string-interval literal (grammar `interval` rule; semantics
    * IntervalParser + IntervalAnalysisTest). Spark keeps the forms its
    * own parser already handles with IDENTICAL semantics (multi-unit
    * strings it can parse, bare-integer single-unit, 'Y-M' YEAR TO
    * MONTH); everything else — verbose/compact/SQL-standard strings,
    * bare numbers with a TO window (the reference's value-takes-END-
    * unit rule), fractional numbers with a unit (the reference
    * truncates), signed quoted literals — routes to graft_interval
    * with the precision slots. */
  private val intervalUnits =
    Vector("year", "month", "day", "hour", "minute", "second")

  private def passIntervalLiteral(ts: Vector[Tok]): Option[Vector[Tok]] = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == K.Word && ts(i).is("interval")) {
        var j = nextSig(ts, i)
        var negated = false
        var signed = false
        if (j >= 0 && (ts(j).isSym("-") || ts(j).isSym("+"))) {
          negated = ts(j).isSym("-"); signed = true; j = nextSig(ts, j)
        }
        if (j >= 0 && ts(j).kind == K.Str) {
          val s = ts(j).text.stripPrefix("'").stripSuffix("'")
            .replace("''", "'")
          var endTok = j
          var u1: Option[String] = None
          var u2: Option[String] = None
          val k1 = nextSig(ts, j)
          if (k1 >= 0 && ts(k1).kind == K.Word &&
              intervalUnits.contains(ts(k1).text.toLowerCase)) {
            u1 = Some(ts(k1).text.toLowerCase); endTok = k1
            val t2 = nextSig(ts, k1)
            val t3 = if (t2 >= 0) nextSig(ts, t2) else -1
            if (t2 >= 0 && ts(t2).is("to") && t3 >= 0 &&
                ts(t3).kind == K.Word &&
                intervalUnits.contains(ts(t3).text.toLowerCase)) {
              u2 = Some(ts(t3).text.toLowerCase); endTok = t3
            }
          }
          val bareInt = s.trim.matches("[+-]?\\d+")
          val sparkParses =
            org.apache.spark.sql.catalyst.util.IntervalUtils
              .safeStringToInterval(
                org.apache.spark.unsafe.types.UTF8String.fromString(s)) != null
          // Spark's ANSI literal typing REJECTS units from both the
          // year-month and day-time groups in one literal ("Cannot mix
          // year-month and day-time fields") even though the legacy
          // CalendarInterval parser above accepts them — the reference
          // allows mixing freely, so mixed strings must route to
          // graft_interval (which builds a CalendarInterval)
          val words = s.toLowerCase(java.util.Locale.ENGLISH)
            .split("[^a-z]+").toSet
          val mixesGroups =
            words.exists(w => w.startsWith("year") || w.startsWith("month") ||
              w.startsWith("mon") && w != "monday") &&
            words.exists(w => w.startsWith("week") || w.startsWith("day") ||
              w.startsWith("hour") || w.startsWith("min") ||
              w.startsWith("sec") || w.startsWith("milli") ||
              w.startsWith("micro"))
          val native =
            !signed && (u1 match {
              case None => sparkParses && !mixesGroups
              case Some(_) if u2.isEmpty => bareInt
              case Some("year") if u2.contains("month") =>
                s.trim.matches("[+-]?\\d+-\\d+")
              case _ => false
            })
          if (!native) {
            val esc = s.replace("'", "''")
            val args = (Seq(s"'$esc'") ++ u1.map(u => s"'$u'") ++
              u2.map(u => s"'$u'")).mkString(", ")
            val call =
              if (negated) s"(- graft_interval($args))"
              else s"graft_interval($args)"
            return Some(ts.slice(0, i) ++ lex(call) ++
              ts.slice(endTok + 1, ts.length))
          }
        }
      }
      i += 1
    }
    None
  }

  private val passes: Seq[Vector[Tok] => Option[Vector[Tok]]] =
    Seq(passEscapeString, passKnnMatch, passSelectUnnest,
      passSelectItemAlias, passRenames,
      passScoreMulti, passMatch, passScore,
      passIntervalLiteral,
      passBitLiteral, passCastAsFringe, passCasts, passAnyAll,
      passObjectLiteral, passTableFunctions, passBrackets,
      passFetchOffset, passFilterClause,
      passSystemSchemas, passArrayOverlap, passAtTimeZone,
      passPipeConcat,
      passRegexOps, passCidrOp,
      passSubstringFrom, passArraySubquery, passEmptyRow,
      passSessionKeywords)

  // ---------- DDL: CREATE TABLE ----------

  /** CrateDB `CREATE TABLE` → Spark SQL DDL (reference grammar
    * `libs/sql-parser/src/main/antlr/SqlBaseParser.g4` createTable;
    * docs/general/ddl/create-table.rst).
    *
    * Mappings (Spark-first, lossy where Spark has no equivalent):
    *  - scalar types through [[typeMap]]; `ARRAY(T)` → `ARRAY<T>`;
    *    `OBJECT [( DYNAMIC|STRICT|IGNORED )] AS (subcols)` → `STRUCT<...>`
    *    (nested objects recurse); bare `OBJECT` → `MAP<STRING,STRING>`;
    *    `GEO_POINT` → `ARRAY<DOUBLE>`; `GEO_SHAPE` → `STRING` (GeoJSON)
    *  - `NOT NULL` kept; `PRIMARY KEY`, `INDEX USING FULLTEXT`,
    *    `DEFAULT`/`GENERATED` exprs, `STORAGE WITH`, named constraints:
    *    dropped (no Spark DDL equivalent; enforce in the write path)
    *  - `CLUSTERED BY (c) INTO n SHARDS` → `CLUSTERED BY (c) INTO n
    *    BUCKETS` (Spark bucketed table — the co-location survives);
    *    `CLUSTERED INTO n SHARDS` (no routing column) is dropped
    *  - `PARTITIONED BY (...)` kept verbatim; `WITH (...)` table settings
    *    dropped; storage is always `USING parquet`.
    */
  /** Split a token run on depth-0 commas (parens and generics nest). */
  private[graft] def splitCommas(v: Vector[Tok]): Seq[Vector[Tok]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Vector[Tok]]
    var dep = 0; var b = Vector.newBuilder[Tok]
    for (t <- v) {
      if (t.isSym("(") || t.isSym("<")) dep += 1
      if (t.isSym(")") || t.isSym(">")) dep -= 1
      if (t.isSym(",") && dep == 0) { out += b.result(); b = Vector.newBuilder[Tok] }
      else b += t
    }
    val l = b.result(); if (l.nonEmpty) out += l
    out.toSeq
  }

  private[graft] def ident(raw: String): String =
    if (raw.startsWith("\"")) "`" + raw.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"") + "`"
    else raw

  /** CrateDB type spelling starting at index j of d →
    * (Spark type text, next index). Shared by CREATE TABLE and
    * CREATE FUNCTION argument/return types. */
  private[graft] def mapType(d: Vector[Tok], j: Int): (String, Int) = {
    val w = d(j).text.toLowerCase
    w match {
      case "array" if j + 1 < d.length && d(j + 1).isSym("(") =>
        val c = matchFwd(d, j + 1)
        val (inner, _) = mapType(d, j + 2)
        (s"ARRAY<$inner>", c + 1)
      case "object" =>
        var k = j + 1
        if (k < d.length && d(k).isSym("(")) k = matchFwd(d, k) + 1 // policy
        if (k < d.length && d(k).is("as") && k + 1 < d.length && d(k + 1).isSym("(")) {
          val c = matchFwd(d, k + 1)
          val subs = splitCommas(d.slice(k + 2, c))
          val fields = subs.map { sd =>
            val fname = ident(sd(0).text)
            val (ft, _) = mapType(sd, 1)
            s"$fname: $ft"
          }
          (s"STRUCT<${fields.mkString(", ")}>", c + 1)
        } else ("MAP<STRING,STRING>", k)
      case "geo_point" => ("ARRAY<DOUBLE>", j + 1)
      case "geo_shape" => ("STRING", j + 1)
      case "float_vector" =>
        // FLOAT_VECTOR(n) (reference FloatVectorType, vector-search docs):
        // the dimension is declarative only — Spark's twin is ARRAY<FLOAT>
        if (j + 1 < d.length && d(j + 1).isSym("("))
          ("ARRAY<FLOAT>", matchFwd(d, j + 1) + 1)
        else ("ARRAY<FLOAT>", j + 1)
      case "double" if j + 1 < d.length && d(j + 1).is("precision") => ("DOUBLE", j + 2)
      case "timestamp" =>
        if (d.lift(j + 1).exists(t => t.is("with") || t.is("without")))
          ("TIMESTAMP", j + 4) // [with|without] time zone
        else ("TIMESTAMP", j + 1)
      case "bit" =>
        // BIT(n) (reference BitStringType): raw-bits STRING — '0'/'1'
        // lexicographic order IS BitString.compareTo (bit_cmp), and the
        // router adds a write-time length/charset check per column
        if (j + 1 < d.length && d(j + 1).isSym("("))
          ("STRING", matchFwd(d, j + 1) + 1)
        else ("STRING", j + 1)
      case "timetz" =>
        // TIME WITH TIME ZONE (reference TimeTZ.java): struct ordering =
        // the reference's (micros, offset) compare
        ("STRUCT<micros: BIGINT, offset_sec: INT>", j + 1)
      case "time" if d.lift(j + 1).exists(_.is("with")) =>
        ("STRUCT<micros: BIGINT, offset_sec: INT>", j + 4) // with time zone
      case tw =>
        val base = typeMap.getOrElse(tw, tw.toUpperCase)
        // precision args e.g. DECIMAL(10,2), VARCHAR(20)
        if (j + 1 < d.length && d(j + 1).isSym("(")) {
          val c = matchFwd(d, j + 1)
          (base + render(d.slice(j + 1, c + 1)).replaceAll("\\s", ""), c + 1)
        } else (if (base == "VARCHAR") "STRING" else base, j + 1)
    }
  }

  def translateDdl(stmt: String): String = {
    val ts = lex(stmt).filter(_.sig)
    def isw(i: Int, s: String) = i < ts.length && ts(i).kind == K.Word && ts(i).is(s)
    require(isw(0, "create") && isw(1, "table"), "translateDdl handles CREATE TABLE only")
    var i = 2
    if (isw(i, "if") && isw(i + 1, "not") && isw(i + 2, "exists")) i += 3
    val nameParts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i < ts.length && !ts(i).isSym("(")) { nameParts += ts(i).text; i += 1 }
    require(i < ts.length, "CREATE TABLE without column list")
    val open = i; val close = matchFwd(ts, open)
    require(close > open, "unbalanced column list")

    // split depth-1 commas
    val defs = scala.collection.mutable.ArrayBuffer.empty[Vector[Tok]]
    var depth = 0; var cur = Vector.newBuilder[Tok]
    for (k <- open + 1 until close) {
      val t = ts(k)
      if (t.isSym("(")) depth += 1
      if (t.isSym(")")) depth -= 1
      if (t.isSym(",") && depth == 0) { defs += cur.result(); cur = Vector.newBuilder[Tok] }
      else cur += t
    }
    val last = cur.result(); if (last.nonEmpty) defs += last

    val cols = defs.flatMap { d =>
      val head = d(0).text.toLowerCase
      if (head == "primary" || head == "index" || head == "constraint" || head == "check")
        None // table-level constraint / fulltext index: no Spark DDL twin
      else if (d.length > 1 && (d(1).is("generated") || d(1).is("as")))
        None // generated column without a declared type: the router infers
             // the type from the expression and stitches it into the schema
      else {
        val name = ident(d(0).text)
        val (ty, after) = mapType(d, 1)
        val notNull = d.indexWhere(_.is("not")) match {
          case n if n >= after && n + 1 < d.length && d(n + 1).is("null") => " NOT NULL"
          case _ => ""
        }
        Some(s"$name $ty$notNull")
      }
    }

    // tail clauses after the column list
    var bucketCol: Option[String] = None; var nBuckets: Option[String] = None
    var partitionBy: Option[String] = None
    var k = close + 1
    while (k < ts.length) {
      if (ts(k).is("clustered")) {
        var m = k + 1
        if (m < ts.length && ts(m).is("by") && ts(m + 1).isSym("(")) {
          val c = matchFwd(ts, m + 1)
          bucketCol = Some(render(ts.slice(m + 2, c)).trim)
          m = c + 1
        }
        if (m < ts.length && ts(m).is("into")) { nBuckets = Some(ts(m + 1).text); m += 3 } // INTO n SHARDS
        k = m
      } else if (ts(k).is("partitioned") && k + 1 < ts.length && ts(k + 1).is("by") &&
                 ts(k + 2).isSym("(")) {
        val c = matchFwd(ts, k + 2)
        partitionBy = Some(render(ts.slice(k + 3, c)).trim)
        k = c + 1
      } else k += 1 // WITH (...) and anything else: dropped
    }

    val b = new StringBuilder
    b.append("CREATE TABLE ").append(nameParts.map(ident).mkString)
      .append(" (").append(cols.mkString(", ")).append(") USING parquet")
    partitionBy.foreach(p => b.append(s" PARTITIONED BY ($p)"))
    (bucketCol, nBuckets) match {
      case (Some(c), Some(n)) => b.append(s" CLUSTERED BY ($c) INTO $n BUCKETS")
      case _ => // routing without a column (CLUSTERED INTO n SHARDS): dropped
    }
    b.toString
  }

  def translate(stmt: String): String = {
    var ts = lex(stmt)
    var changed = true
    var rounds = 0
    while (changed && rounds < 200) {
      changed = false
      var pi = 0
      while (!changed && pi < passes.length) {
        passes(pi)(ts) match {
          case Some(next) => ts = next; changed = true
          case None       =>
        }
        pi += 1
      }
      rounds += 1
    }
    // Final render: double-quoted identifiers (PG/CrateDB) become backticked
    // (Spark) — left as QId tokens until now so the structural passes could
    // recognize them. Done at render time only, so intermediate re-lexing
    // during passes never sees backticks.
    ts.map { t =>
      if (t.kind == K.QId && t.text.startsWith("\"")) {
        val inner = t.text.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"")
        "`" + inner.replace("`", "``") + "`"
      } else t.text
    }.mkString
  }
}
