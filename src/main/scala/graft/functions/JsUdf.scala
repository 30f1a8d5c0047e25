package graft.functions

/** Translator for the reference's JAVASCRIPT UDF bodies
  * (docs/general/user-defined-functions.rst; the reference executes them on
  * GraalVM — `expressions/UserDefinedFunctionService`). graft has no JS
  * engine, and shipping one would put an interpreter in the row path; what
  * real UDF bodies overwhelmingly are — the docs' own examples included —
  * is a single `return <arithmetic>` over the arguments, sometimes behind
  * `var` bindings. That subset translates EXACTLY onto Spark SQL
  * expressions, which then run codegen'd (faster than the reference's
  * GraalVM dispatch, and distributed for free).
  *
  * Accepted subset:
  *   function name(a, b, …) {
  *     [var x = expr, y = expr; …]
  *     [x = expr; | x += expr; | x -= … (SSA-style rebinding)]
  *     [for (var i = <int>; i < <int> | i > <int> (or <=, >=);
  *           i++ | i-- | i += <int> | i -= <int>) { assignments }]
  *     [if (cond) return expr; | if (cond) { … return expr; } else { … } …]
  *     return expr;
  *   }
  * Guard-style control flow translates to CASE chains: every path through
  * the body must end in `return` (a fall-off-the-end `undefined` is
  * rejected). Integer-literal-bounded for-loops UNROLL at translate time
  * (cap 64 iterations) — the array-fold UDF shape becomes one inlined
  * expression. expr is: numbers, 'strings'/"strings", true/false/null,
  * argument and var references, unary -/!, + - * / % **, comparisons
  * (== === != !== < <= > >=), && || , ?: ternaries, parentheses, array
  * literals [..], 0-based indexing a[i] (→ 1-based element_at), object
  * literals {k: v} (→ named_struct), Math.* calls/constants, Date.now(),
  * and the string methods
  * .toLowerCase() / .toUpperCase() / .trim() / .trimStart() / .trimEnd() /
  * .length / .substring / .indexOf / .charAt / .charCodeAt / .startsWith /
  * .endsWith / .includes / .repeat / .padStart / .padEnd / .replaceAll /
  * .split(literal) / .concat / .toString
  * (.replace is rejected: JS replaces the first occurrence, SQL all —
  * .replaceAll is the faithful twin and is supported).
  *
  * Anything else (loops, reassignment, closures, regex, …) throws
  * UnsupportedOperationException with the offending construct named —
  * the statement fails loudly rather than silently diverging (PORTING.md
  * documents the contract).
  */
object JsUdf {

  final case class Translated(name: String, params: Seq[String], sql: String)

  // ---------- lexer ----------

  private sealed trait T
  private case class Num(s: String) extends T
  private case class Str(s: String) extends T
  private case class Id(s: String) extends T
  private case class Op(s: String) extends T

  private def lex(src: String): Vector[T] = {
    val out = Vector.newBuilder[T]
    var i = 0
    val n = src.length
    val ops3 = Set("===", "!==")
    // no "--": `a - -b` is a real expression shape; `i--` stays unsupported
    val ops2 = Set("==", "!=", "<=", ">=", "&&", "||", "**",
      "+=", "-=", "*=", "/=", "++")
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val j = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > j &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        out += Num(src.substring(j, i))
      } else if (c == '\'' || c == '"') {
        val q = c; val sb = new StringBuilder; i += 1
        while (i < n && src.charAt(i) != q) {
          if (src.charAt(i) == '\\' && i + 1 < n) { sb.append(src.charAt(i + 1)); i += 2 }
          else { sb.append(src.charAt(i)); i += 1 }
        }
        require(i < n, "unterminated string in JS body")
        i += 1
        out += Str(sb.toString)
      } else if (c.isLetter || c == '_' || c == '$') {
        val j = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_' ||
          src.charAt(i) == '$')) i += 1
        out += Id(src.substring(j, i))
      } else {
        if (i + 3 <= n && ops3(src.substring(i, i + 3))) { out += Op(src.substring(i, i + 3)); i += 3 }
        else if (i + 2 <= n && ops2(src.substring(i, i + 2))) { out += Op(src.substring(i, i + 2)); i += 2 }
        else { out += Op(c.toString); i += 1 }
      }
    }
    out.result()
  }

  // ---------- parser / SQL emitter ----------

  private val mathFns: Map[String, String] = Map(
    "abs" -> "abs", "ceil" -> "ceil", "floor" -> "floor", "round" -> "round",
    "sqrt" -> "sqrt", "cbrt" -> "cbrt", "exp" -> "exp", "log" -> "ln",
    "log10" -> "log10", "log2" -> "log2", "pow" -> "power", "sin" -> "sin",
    "cos" -> "cos", "tan" -> "tan", "asin" -> "asin", "acos" -> "acos",
    "atan" -> "atan", "atan2" -> "atan2", "sinh" -> "sinh", "cosh" -> "cosh",
    "tanh" -> "tanh", "sign" -> "sign", "min" -> "least", "max" -> "greatest",
    "random" -> "rand", "trunc" -> "graft_trunc", "hypot" -> "hypot")

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"JS construct outside the translatable subset: $what " +
        "(supported: var bindings and a single return over arithmetic, " +
        "comparisons, ternaries, arrays, object literals, Math.*)")

  /** sql text + is-the-value-a-string (drives JS `+` → `||` vs `+`). */
  private final case class E(sql: String, str: Boolean)

  def translate(js: String): Translated = {
    val ts = lex(js)
    var p = 0
    def peek: Option[T] = ts.lift(p)
    def next(): T = { val t = ts(p); p += 1; t }
    def expectOp(s: String): Unit = next() match {
      case Op(`s`) =>
      case other   => unsupported(s"expected '$s', found $other")
    }
    def expectId(): String = next() match {
      case Id(s) => s
      case other => unsupported(s"expected identifier, found $other")
    }

    next() match {
      case Id("function") =>
      case other => unsupported(s"body must start with 'function', found $other")
    }
    val fname = expectId()
    expectOp("(")
    val params = Vector.newBuilder[String]
    if (peek.contains(Op(")"))) { next(); () }
    else {
      var done = false
      while (!done) {
        params += expectId()
        next() match {
          case Op(",") =>
          case Op(")") => done = true
          case other   => unsupported(s"in parameter list: $other")
        }
      }
    }
    val paramSet0 = params.result()
    expectOp("{")

    val bindings = scala.collection.mutable.LinkedHashMap.empty[String, E]

    def q(s: String) = "'" + s.replace("'", "''") + "'"

    def primary(): E = next() match {
      case Num(s) => E(s, str = false)
      case Str(s) => E(q(s), str = true)
      case Id("true")  => E("true", str = false)
      case Id("false") => E("false", str = false)
      case Id("null")  => E("NULL", str = false)
      case Id("Math") =>
        expectOp(".")
        val m = expectId()
        m match {
          case "PI" => E("pi()", str = false)
          case "E"  => E("exp(1)", str = false)
          case f if mathFns.contains(f) =>
            expectOp("(")
            val args = Vector.newBuilder[E]
            if (peek.contains(Op(")"))) { next(); () }
            else {
              var done = false
              while (!done) {
                args += expr()
                next() match {
                  case Op(",") =>
                  case Op(")") => done = true
                  case other   => unsupported(s"in Math.$f arguments: $other")
                }
              }
            }
            E(s"${mathFns(f)}(${args.result().map(_.sql).mkString(", ")})", str = false)
          case f => unsupported(s"Math.$f")
        }
      case Id("Date") =>
        // Date.now() — epoch millis; the only Date API with a faithful,
        // deterministic-per-row SQL twin
        expectOp(".")
        expectId() match {
          case "now" => expectOp("("); expectOp(")")
            E("unix_millis(now())", str = false)
          case f => unsupported(s"Date.$f")
        }
      case Id(name) if bindings.contains(name) => bindings(name)
      case Id(name) if paramSet0.contains(name) => E(name, str = false)
      case Op("(") =>
        val e = expr(); expectOp(")"); E(s"(${e.sql})", e.str)
      case Op("[") =>
        val items = Vector.newBuilder[E]
        if (peek.contains(Op("]"))) { next(); () }
        else {
          var done = false
          while (!done) {
            items += expr()
            next() match {
              case Op(",") =>
              case Op("]") => done = true
              case other   => unsupported(s"in array literal: $other")
            }
          }
        }
        E(s"array(${items.result().map(_.sql).mkString(", ")})", str = false)
      case Op("{") =>
        val fields = Vector.newBuilder[(String, E)]
        if (peek.contains(Op("}"))) { next(); () }
        else {
          var done = false
          while (!done) {
            val k = next() match {
              case Str(s) => s
              case Id(s)  => s
              case other  => unsupported(s"object key $other")
            }
            expectOp(":")
            fields += ((k, expr()))
            next() match {
              case Op(",") =>
              case Op("}") => done = true
              case other   => unsupported(s"in object literal: $other")
            }
          }
        }
        E("named_struct(" +
          fields.result().map { case (k, v) => s"${q(k)}, ${v.sql}" }.mkString(", ") + ")",
          str = false)
      case Id(name) => unsupported(s"unknown identifier '$name'")
      case other    => unsupported(other.toString)
    }

    def postfix(): E = {
      var e = primary()
      var go = true
      while (go) peek match {
        case Some(Op("[")) =>
          next()
          val idx = expr()
          expectOp("]")
          // a STRING-literal key is JS object access (`a["x"]`), not
          // array indexing — the SQL rendering depends on whether the
          // value arrives as a MAP or a STRUCT, which the translator
          // cannot know; reject so the body routes to the interpreter
          // (whose object values answer both shapes)
          if (idx.str) throw new UnsupportedOperationException(
            "string-key subscript (object property access) is outside " +
              "the translatable subset — interpreter handles it")
          e = E(s"element_at(${e.sql}, (${idx.sql}) + 1)", str = false)
        case Some(Op(".")) =>
          next()
          val m = expectId()
          def args(n: Int): Seq[E] = {
            expectOp("(")
            val out = Vector.newBuilder[E]
            if (peek.contains(Op(")"))) { next(); () }
            else {
              var done = false
              while (!done) {
                out += expr()
                next() match {
                  case Op(",") =>
                  case Op(")") => done = true
                  case other   => unsupported(s"in .$m arguments: $other")
                }
              }
            }
            val r = out.result()
            require(r.length <= n, s".$m takes at most $n arguments")
            r
          }
          m match {
            case "length" => e = E(s"length(${e.sql})", str = false)
            case "toLowerCase" => args(0); e = E(s"lower(${e.sql})", str = true)
            case "toUpperCase" => args(0); e = E(s"upper(${e.sql})", str = true)
            case "trim"        => args(0); e = E(s"trim(${e.sql})", str = true)
            // JS substring(a[, b]) is [a, b) 0-based → substr(s, a+1, b-a)
            case "substring" =>
              val a = args(2)
              e =
                if (a.length == 1) E(s"substr(${e.sql}, (${a(0).sql}) + 1)", str = true)
                else E(s"substr(${e.sql}, (${a(0).sql}) + 1, (${a(1).sql}) - (${a(0).sql}))", str = true)
            // JS indexOf: 0-based, -1 when absent; instr: 1-based, 0 when
            // absent — the two conventions differ by exactly 1 everywhere
            case "indexOf" =>
              val a = args(1)
              e = E(s"(instr(${e.sql}, ${a(0).sql}) - 1)", str = false)
            case "charAt" =>
              val a = args(1)
              e = E(s"substr(${e.sql}, (${a(0).sql}) + 1, 1)", str = true)
            case "startsWith" =>
              val a = args(1); e = E(s"startswith(${e.sql}, ${a(0).sql})", str = false)
            case "endsWith" =>
              val a = args(1); e = E(s"endswith(${e.sql}, ${a(0).sql})", str = false)
            case "includes" =>
              val a = args(1); e = E(s"contains(${e.sql}, ${a(0).sql})", str = false)
            case "trimStart" | "trimLeft"  => args(0); e = E(s"ltrim(${e.sql})", str = true)
            case "trimEnd" | "trimRight"   => args(0); e = E(s"rtrim(${e.sql})", str = true)
            case "repeat" =>
              val a = args(1); e = E(s"repeat(${e.sql}, ${a(0).sql})", str = true)
            // JS pad* never truncates; SQL lpad/rpad cut to the target
            // length — guard so a short target is the identity, like JS
            case "padStart" | "padEnd" =>
              val a = args(2)
              val fn = if (m == "padStart") "lpad" else "rpad"
              val pad = if (a.length == 2) a(1).sql else "' '"
              val s0 = e.sql
              e = E(s"(CASE WHEN length($s0) >= (${a(0).sql}) THEN $s0 " +
                s"ELSE $fn($s0, ${a(0).sql}, $pad) END)", str = true)
            // JS replaceAll(string, string) replaces every occurrence —
            // exactly SQL replace(); .replace stays rejected (first-only)
            case "replaceAll" =>
              val a = args(2)
              require(a.length == 2, ".replaceAll needs (search, replacement)")
              e = E(s"replace(${e.sql}, ${a(0).sql}, ${a(1).sql})", str = true)
            // JS charCodeAt out of range is NaN; NULL is the SQL analogue
            case "charCodeAt" =>
              val a = args(1)
              val i0 = if (a.isEmpty) "0" else a(0).sql
              val s0 = e.sql
              e = E(s"(CASE WHEN ($i0) + 1 BETWEEN 1 AND length($s0) " +
                s"THEN ascii(substr($s0, ($i0) + 1, 1)) ELSE NULL END)", str = false)
            // JS split takes a LITERAL separator; Spark split takes a
            // regex — quote the literal at translate time (non-literal
            // separators are rejected rather than silently regexed)
            case "split" =>
              val a = args(1)
              require(a.length == 1, ".split needs a separator")
              val lit = a(0).sql
              if (!(a(0).str && lit.length >= 2 && lit.head == '\'' && lit.last == '\''))
                unsupported(".split with a non-literal separator")
              val raw = lit.substring(1, lit.length - 1).replace("''", "'")
              // the emitted text re-parses under STANDARD-CONFORMING
              // literals (no \-escape processing), so the regex quoting
              // goes through verbatim
              val quoted = "'" + java.util.regex.Pattern.quote(raw)
                .replace("'", "''") + "'"
              e = E(s"split(${e.sql}, $quoted)", str = false)
            case "concat" =>
              expectOp("(")
              val parts = Vector.newBuilder[E]
              if (peek.contains(Op(")"))) { next(); () }
              else {
                var done = false
                while (!done) {
                  parts += expr()
                  next() match {
                    case Op(",") =>
                    case Op(")") => done = true
                    case other   => unsupported(s"in .concat arguments: $other")
                  }
                }
              }
              e = E(s"concat(${e.sql}, ${parts.result().map(_.sql).mkString(", ")})",
                str = true)
            case "toString" =>
              args(0); e = E(s"CAST(${e.sql} AS STRING)", str = true)
            // .replace is rejected on purpose: JS replaces the FIRST
            // occurrence, SQL replace() replaces all — a silent divergence
            case other => unsupported(s"method .$other")
          }
        case _ => go = false
      }
      e
    }

    def unary(): E = peek match {
      case Some(Op("-")) => next(); val e = unary(); E(s"(- ${e.sql})", str = false)
      case Some(Op("+")) => next(); unary()
      case Some(Op("!")) => next(); val e = unary(); E(s"(NOT ${e.sql})", str = false)
      case _ => postfix()
    }

    // `**` binds tighter than * / % and is right-associative, like JS
    def pw(): E = {
      val e = unary()
      if (peek.contains(Op("**"))) {
        next(); val r = pw(); E(s"power(${e.sql}, ${r.sql})", str = false)
      } else e
    }

    def mul(): E = {
      var e = pw()
      var go = true
      while (go) peek match {
        case Some(Op(op @ ("*" | "/" | "%"))) =>
          next(); val r = pw(); e = E(s"${e.sql} $op ${r.sql}", str = false)
        case _ => go = false
      }
      e
    }

    def add(): E = {
      var e = mul()
      var go = true
      while (go) peek match {
        case Some(Op("+")) =>
          next(); val r = mul()
          e = if (e.str || r.str) E(s"concat(${e.sql}, ${r.sql})", str = true)
              else E(s"${e.sql} + ${r.sql}", str = false)
        case Some(Op("-")) =>
          next(); val r = mul(); e = E(s"${e.sql} - ${r.sql}", str = false)
        case _ => go = false
      }
      e
    }

    def cmp(): E = {
      val e = add()
      peek match {
        case Some(Op(op @ ("==" | "===" | "!=" | "!==" | "<" | "<=" | ">" | ">="))) =>
          next()
          val r = add()
          val sqlOp = op match {
            case "==" | "===" => "="
            case "!=" | "!==" => "<>"
            case o            => o
          }
          E(s"${e.sql} $sqlOp ${r.sql}", str = false)
        case _ => e
      }
    }

    def and(): E = {
      var e = cmp()
      while (peek.contains(Op("&&"))) { next(); val r = cmp(); e = E(s"(${e.sql} AND ${r.sql})", str = false) }
      e
    }

    def or(): E = {
      var e = and()
      while (peek.contains(Op("||"))) { next(); val r = and(); e = E(s"(${e.sql} OR ${r.sql})", str = false) }
      e
    }

    def expr(): E = {
      val c = or()
      if (peek.contains(Op("?"))) {
        next()
        val t = expr()
        expectOp(":")
        val f = expr()
        E(s"(CASE WHEN ${c.sql} THEN ${t.sql} ELSE ${f.sql} END)", t.str || f.str)
      } else c
    }

    // statements: var bindings + guard-style if/return chains, folded
    // into one CASE expression — every path must end in `return`
    def parseVar(): Unit = {
      var done = false
      while (!done) {
        val name = expectId()
        expectOp("=")
        val e = expr()
        bindings += name -> E(s"(${e.sql})", e.str)
        next() match {
          case Op(",") =>
          case Op(";") => done = true
          case other   => unsupported(s"in var declaration: $other")
        }
      }
    }
    // one branch of an if: `return expr;`, a nested if, or a `{…}` block
    def parseBranch(): E = peek match {
      case Some(Op("{")) => next(); val e = parseStmts(); expectOp("}"); e
      case Some(Id("return")) =>
        next(); val e = expr()
        if (peek.contains(Op(";"))) { next(); () }
        e
      case Some(Id("if")) => next(); parseIf()
      case other => unsupported(s"branch must return a value: $other")
    }
    def parseIf(): E = {
      expectOp("(")
      val c = expr()
      expectOp(")")
      val t = parseBranch()
      val f = peek match {
        case Some(Id("else")) => next(); parseBranch()
        // no else: the rest of the enclosing block is the else branch
        // (the guard-clause idiom `if (x) return a; return b;`)
        case _ => parseStmts()
      }
      E(s"(CASE WHEN ${c.sql} THEN ${t.sql} ELSE ${f.sql} END)", t.str || f.str)
    }
    // `x = e;` / `x += e;` … — SSA-style: the name rebinds to a new
    // inlined expression; reads of x after this see the updated value
    def parseAssign(name: String): Unit = {
      val old = bindings.getOrElse(name,
        if (paramSet0.contains(name)) E(name, str = false)
        else unsupported(s"assignment to unknown variable '$name'"))
      val rhs = next() match {
        case Op("=")  => expr()
        case Op("+=") =>
          val r = expr()
          if (old.str || r.str) E(s"concat(${old.sql}, ${r.sql})", str = true)
          else E(s"(${old.sql} + ${r.sql})", str = false)
        case Op("-=") => val r = expr(); E(s"(${old.sql} - ${r.sql})", str = false)
        case Op("*=") => val r = expr(); E(s"(${old.sql} * ${r.sql})", str = false)
        case Op("/=") => val r = expr(); E(s"(${old.sql} / ${r.sql})", str = false)
        case other    => unsupported(s"in assignment to $name: $other")
      }
      bindings += name -> E(s"(${rhs.sql})", rhs.str)
      if (peek.contains(Op(";"))) { next(); () }
    }

    /** `for (var i = <int>; i < <int>; i++ | i += <int>) { …assignments… }`
      * — all bounds are translate-time integer literals, so the loop
      * UNROLLS into the bindings (capped at 64 iterations); the body may
      * only declare/assign, not return. The common array-fold UDF shape
      * becomes one inlined expression. */
    def parseFor(): Unit = {
      expectOp("(")
      next() match {
        case Id("var") | Id("let") =>
        case other => unsupported(s"for-loop init must declare its variable: $other")
      }
      val ivar = expectId()
      expectOp("=")
      val init = expr()
      def asInt(e: E, what: String): Int =
        if (e.sql.matches("-?\\d+")) e.sql.toInt
        else unsupported(s"for-loop $what must be an integer literal")
      var iv = asInt(init, "init")
      expectOp(";")
      val cvar = expectId()
      val cmpOp = next() match {
        case Op(o @ ("<" | "<=" | ">" | ">=")) => o
        case other => unsupported(s"for-loop condition must be a comparison: $other")
      }
      val limit = asInt(expr(), "bound")
      expectOp(";")
      val uvar = expectId()
      // `i--` lexes as two '-' tokens (the lexer keeps no '--' operator:
      // `a - -b` is a real expression shape) — match the pair here
      val step = next() match {
        case Op("++") => 1
        case Op("+=") => asInt(expr(), "step")
        case Op("-") if ts.lift(p).contains(Op("-")) => p += 1; -1
        case Op("-=") => -asInt(expr(), "step")
        case other    => unsupported(s"for-loop update must be ++/--/+=/-=: $other")
      }
      val ascending = cmpOp == "<" || cmpOp == "<="
      require(step != 0, "for-loop step must be nonzero")
      require(ascending == (step > 0),
        "for-loop direction must match its condition (infinite loop otherwise)")
      require(ivar == cvar && cvar == uvar,
        "for-loop must test and update its own variable")
      expectOp(")")
      expectOp("{")
      val bodyStart = p
      var depth = 1; var k = p
      while (k < ts.length && depth > 0) {
        ts(k) match {
          case Op("{") => depth += 1
          case Op("}") => depth -= 1
          case _       =>
        }
        k += 1
      }
      require(depth == 0, "unbalanced for-loop body")
      val bodyEnd = k - 1 // index of the closing '}'
      var iters = 0
      while (cmpOp match {
        case "<"  => iv < limit
        case "<=" => iv <= limit
        case ">"  => iv > limit
        case _    => iv >= limit
      }) {
        iters += 1
        if (iters > 64) unsupported("for-loop unrolling past 64 iterations")
        bindings += ivar -> E(iv.toString, str = false)
        p = bodyStart
        while (p < bodyEnd) next() match {
          case Id("var") | Id("let") | Id("const") => parseVar()
          case Id(name) if bindings.contains(name) || paramSet0.contains(name) =>
            parseAssign(name)
          case other => unsupported(s"in for-loop body (assignments only): $other")
        }
        iv += step
      }
      // JS `var` leaks the final loop value into the enclosing scope
      bindings += ivar -> E(iv.toString, str = false)
      p = bodyEnd + 1
    }

    def parseStmts(): E = {
      var result: Option[E] = None
      while (result.isEmpty) next() match {
        case Id("var") | Id("let") | Id("const") => parseVar()
        case Id("return") =>
          val e = expr()
          if (peek.contains(Op(";"))) { next(); () }
          result = Some(e)
        case Id("if") => result = Some(parseIf())
        case Id("for") => parseFor()
        case Id(name) if bindings.contains(name) || paramSet0.contains(name) =>
          parseAssign(name)
        case other => unsupported(s"statement $other")
      }
      result.get
    }

    val result = parseStmts()
    expectOp("}")
    require(p == ts.length, "trailing code after the function body")

    Translated(fname, paramSet0, result.sql)
  }
}
