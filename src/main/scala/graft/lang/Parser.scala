package graft.lang

import Lexer._

/** Recursive-descent parser for the Zed language subset (reference grammar:
  * compiler/parser/parser.peg; desugarings compiler/semantic/op.go:417-860).
  *
  * Implied operators (pipeline-model.md#implied-operators) are resolved the
  * way the reference's semantic pass does: a leading `f:=agg(...)` or bare
  * `agg(...) by k` is summarize, `f:=e` is put, a boolean-shaped bare
  * expression is where, and any other bare expression is yield.
  */
/** A compile-time diagnostic already formatted with the reference's
  * caret/tilde layout — the CLI surfaces the message verbatim.
  */
final class CompileDiag(msg: String) extends IllegalArgumentException(msg)

final class Parser(tokens: Vector[Token], source: String,
    keepDecls: Boolean = false, expand: Boolean = true,
    expandFuncs: Boolean = true) {
  private def preserve: Boolean = keepDecls // decl emission
  private def noExpand: Boolean = !expand
  private var pos = 0

  private def peek: Token = tokens(pos)
  private def peekAt(k: Int): Token = tokens(math.min(pos + k, tokens.length - 1))
  private def next(): Token = { val t = tokens(pos); pos += 1; t }
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"parse error at ${peek.pos} ('${peek.text}'): $msg")

  /** Reference-style caret diagnostic: msg at line/col + source line +
    * tilde span (compiler/semantic error rendering).
    */
  private def diag(msg: String, startPos: Int, endPos: Int): Nothing = {
    val upTo = source.take(startPos)
    val lineNo = upTo.count(_ == '\n') + 1
    val colNo = startPos - (upTo.lastIndexOf('\n') + 1) + 1
    val lineText = source.linesWithSeparators.toSeq
      .lift(lineNo - 1).getOrElse(source).stripLineEnd
    val span = math.max(1, endPos - startPos)
    throw new CompileDiag(
      s"$msg at line $lineNo, column $colNo:\n" +
        lineText + "\n" + (" " * (colNo - 1)) + ("~" * span))
  }

  private def expect(text: String): Token = {
    val t = next()
    if (t.text != text) throw new IllegalArgumentException(
      s"parse error at ${t.pos}: expected '$text', got '${t.text}'")
    t
  }
  private def at(text: String): Boolean = peek.text == text && peek.kind != STR
  private def atId(text: String): Boolean = peek.kind == ID && peek.text == text

  /** Boolean keywords match case-insensitively (`AND`/`and` — the
    * reference grammar accepts both spellings in search syntax).
    */
  private def atKw(text: String): Boolean =
    peek.kind == ID && (peek.text == text || peek.text == text.toUpperCase)
  private def eat(text: String): Boolean = if (at(text)) { pos += 1; true } else false

  private val aggFns = Set(
    "count", "sum", "avg", "min", "max", "any", "dcount", "count_distinct",
    "countdistinct", "collect", "union", "and", "or", "collect_map", "fuse")

  // tokens that terminate a (sub-)pipeline
  private def atPipelineEnd: Boolean =
    peek.kind == EOF || at(")") || atId("case") || atId("default") || at("=>")

  def parsePipeline(): Pipeline = {
    // statements may open any (sub-)pipeline; their bindings are LEXICAL —
    // an inner const shadows the outer one only inside this body
    // (statements.md scoped constants)
    val savedC = consts.toMap
    val savedF = funcs.toMap
    val savedT = typeDefs.toMap
    // a parenthesized body OPENING with statements is a scoped block:
    // `( const a = 10 ... | ... )` (nested-const ztest)
    val stmtBlock = at("(") && (
      (peekAt(1).text == "const" && peekAt(3).text == "=") ||
        (peekAt(1).text == "func" && peekAt(3).text == "(") ||
        (peekAt(1).text == "type" && peekAt(3).text == "=") ||
        (peekAt(1).text == "op" && peekAt(3).text == "("))
    if (stmtBlock) next()
    // decls pending from an OUTER scope stay with that scope — this
    // (sub-)pipeline keeps only the decls its own statements produce
    val savedPending = pendingDecls
    pendingDecls = Vector.empty
    parseStatements()
    val ownDecls = pendingDecls
    pendingDecls = savedPending
    try {
      val stages = Vector.newBuilder[Stage]
      if (preserve) stages ++= ownDecls
      stages += parseStage()
      while (eat("|")) {
        if (!atPipelineEnd) stages += parseStage()
      }
      if (stmtBlock) expect(")")
      Pipeline(stages.result())
    } finally {
      consts.clear(); consts ++= savedC
      funcs.clear(); funcs ++= savedF
      typeDefs.clear(); typeDefs ++= savedT
    }
  }

  // const/func symbol tables (statements.md) — macro-expanded at parse time,
  // matching the reference's compile-time-constant contract for both.
  private val consts = scala.collection.mutable.Map.empty[String, Expr]
  private val funcs = scala.collection.mutable.Map.empty[String, (Seq[String], Expr)]
  private val typeDefs = scala.collection.mutable.Map.empty[String, String]
  private val opDefs = scala.collection.mutable.Map.empty[String, (Seq[String], Pipeline)]
  private val opDefSpans = scala.collection.mutable.Map.empty[String, (Int, Int)]

  def parseQuery(): Pipeline = {
    parseStatements()
    val decls = if (preserve) { val d = pendingDecls; pendingDecls = Vector.empty; d }
                else Vector.empty
    val p = parsePipeline()
    if (peek.kind != EOF) fail("trailing input")
    if (decls.nonEmpty) Pipeline(decls ++ p.stages) else p
  }

  private var pendingDecls: Vector[Stage] = Vector.empty

  /** `const <id> = <expr>` / `func <id>(<params>) : ( <expr> )` at the
    * start of the scope (statements.md).
    */
  private def parseStatements(): Unit = {
    var going = true
    while (going) {
      if (atId("const") && peekAt(1).kind == ID && peekAt(2).text == "=") {
        next()
        val name = next().text; expect("=")
        val ce = parseExpr()
        consts(name) = ce
        if (preserve) pendingDecls :+= Stage.ConstDecl(name, ce)
      } else if (atId("func") && peekAt(1).kind == ID && peekAt(2).text == "(") {
        next()
        val nameTok = peek
        val name = next().text; expect("(")
        if (funcs.contains(name))
          diag(s"symbol \"$name\" redefined", nameTok.pos, nameTok.end)
        val params = Vector.newBuilder[String]
        if (!at(")")) { do params += next().text while (eat(",")) }
        expect(")"); expect(":")
        // body parens are conventional but not required in older ztests
        val body =
          if (eat("(")) { val b = parseExpr(); expect(")"); b }
          else parseExpr()
        funcs(name) = (params.result(), body)
        if (preserve) pendingDecls :+= Stage.FuncDecl(name, params.result(), body)
      } else if (atId("op") && peekAt(1).kind == ID && peekAt(2).text == "(") {
        // user-defined operator with params (semantic/op.go:853-860):
        // `op name(p,…): ( <pipeline> )` — inlined at call sites
        next()
        val name = next().text; expect("(")
        val params = Vector.newBuilder[String]
        if (!at(")")) {
          do {
            val ptok = peek
            val pn = next().text
            if (params.result().contains(pn))
              diag(s"duplicate parameter \"$pn\"", ptok.pos, ptok.end)
            params += pn
          } while (eat(","))
        }
        expect(")"); expect(":"); expect("(")
        val bodyStart = peek.pos
        val p = parsePipeline()
        val bodyEnd = tokens(math.max(0, pos - 1)).pos
        expect(")")
        opDefs(name) = (params.result(), p)
        opDefSpans(name) = (bodyStart, bodyEnd)
        if (preserve) pendingDecls :+= Stage.OpDecl(name, params.result(), p)
      } else if (atId("type") && peekAt(1).kind == ID && peekAt(2).text == "=") {
        // `type <id> = <type>` (statements.md named types); the name then
        // acts as a cast constructor like the primitive type names
        next()
        val name = next().text; expect("=")
        // type syntax: simple name, parameterized (decimal(18,2)), or a
        // complex type text ({...} record, [..] array, (..) union) —
        // consumed balanced and stored as text
        val base = new StringBuilder
        val typeStart = peek.pos
        def appendTok(): Unit = {
          val t = next()
          // a QUOTED word in type position must name a known type
          // (shaping ztest badshaper: testfield:"null" is an error)
          if (t.kind == Lexer.STR && peek.text != ":") {
            // a QUOTED name never matches a primitive (badshaper ztest:
            // testfield:"null" is an unknown named type)
            if (!typeDefs.contains(t.text)) {
              // the span covers the whole type text; find its end lazily
              var depth2 = 0
              var j = pos
              var end = t.end
              while (j < tokens.length && tokens(j).kind != EOF && {
                  tokens(j).text match {
                    case "{" | "[" | "(" | "|[" | "|{" => depth2 += 1
                    case "}" | "]" | ")" | "]|" | "}|" => depth2 -= 1
                    case _ =>
                  }
                  end = tokens(j).end
                  depth2 >= 0
                }) j += 1
              diag(s"no such type name: \"${t.text}\"", typeStart, end)
            }
            base.append(typeDefs.getOrElse(t.text, t.text))
            return
          }
          // resolve previously defined names so stored texts are closed
          base.append(
            // a field NAME (followed by ':') must not resolve as a type ref
            if (t.kind == Lexer.ID && peek.text != ":" && peek.text != "=")
              typeDefs.getOrElse(t.text, t.text)
            else t.text)
        }
        if (at("{") || at("[") || at("(") || at("|[") || at("|{")) {
          var depth = 0
          do {
            peek.text match {
              case "{" | "[" | "(" | "|[" | "|{" => depth += 1
              case "}" | "]" | ")" | "]|" | "}|" => depth -= 1
              case _ =>
            }
            appendTok()
          } while (depth > 0 && peek.kind != EOF)
        } else {
          base.append(next().text)
          if (eat("(")) {
            base.append("(")
            while (!at(")")) base.append(next().text)
            expect(")"); base.append(")")
          }
        }
        // store the NAMED form (`name=def`) so references keep the
        // name binding — is(<rec>) compares named types by name+structure
        typeDefs(name) = s"$name=${base.toString}"
        if (preserve) pendingDecls :+= Stage.TypeDecl(name, base.toString)
      } else going = false
    }
  }

  /** Substitute parameters into a function body (pure macro expansion —
    * zed funcs cannot reference runtime state).
    */
  private def subst(e: Expr, env: Map[String, Expr]): Expr = e match {
    case Expr.Path(Seq(n)) if env.contains(n) => env(n)
    case Expr.Path(n +: rest) if env.contains(n) =>
      rest.foldLeft(env(n))((acc, f) => Expr.Call("__getfield", Seq(acc, Expr.StringLit(f))))
    case Expr.Index(a, i) => Expr.Index(subst(a, env), subst(i, env))
    case Expr.Unary(op, x) => Expr.Unary(op, subst(x, env))
    case Expr.Binary(op, l, r) => Expr.Binary(op, subst(l, env), subst(r, env))
    case Expr.Cond(c, t, f) => Expr.Cond(subst(c, env), subst(t, env), subst(f, env))
    case Expr.Call(fn, args) => Expr.Call(fn, args.map(subst(_, env)))
    case Expr.RecordLit(fs) => Expr.RecordLit(fs.map { case (n, x) => (n, subst(x, env)) })
    case Expr.ArrayLit(xs) => Expr.ArrayLit(xs.map(subst(_, env)))
    case Expr.SubQuery(p) => Expr.SubQuery(Pipeline(p.stages.map(substStage(_, env))))
    case Expr.RecCall(n, t, args) => Expr.RecCall(n, t, args.map(subst(_, env)))
    case other => other
  }

  /** Does an expression still call into the user-func table? (Recursion
    * marker: non-recursive calls to already-defined funcs were expanded
    * inline while their bodies parsed, so any surviving table call means a
    * self- or forward-reference.)
    */
  private def referencesFuncTable(e: Expr): Boolean = e match {
    case Expr.Call(fn, args) => funcs.contains(fn) || args.exists(referencesFuncTable)
    case Expr.Index(a, i) => referencesFuncTable(a) || referencesFuncTable(i)
    case Expr.Unary(_, x) => referencesFuncTable(x)
    case Expr.Binary(_, l, r) => referencesFuncTable(l) || referencesFuncTable(r)
    case Expr.Cond(c, t, f) =>
      referencesFuncTable(c) || referencesFuncTable(t) || referencesFuncTable(f)
    case Expr.RecordLit(fs) => fs.exists(f => referencesFuncTable(f._2))
    case Expr.ArrayLit(xs) => xs.exists(referencesFuncTable)
    case Expr.RecCall(_, _, args) => args.exists(referencesFuncTable)
    case _ => false
  }

  /** Substitute op params through a stage (targets rebased when the
    * argument is a path: `x := x+1` with x↦a.b becomes a.b := a.b+1).
    */
  private def substStage(s: Stage, env: Map[String, Expr]): Stage = {
    def target(n: String): String = {
      val parts = n.split('.').toSeq
      env.get(parts.head) match {
        case Some(Expr.Path(ps)) => (ps ++ parts.tail).mkString(".")
        case Some(_) =>
          // the reference rejects non-path arguments bound to lvalue
          // params at compile time (semantic/op.go)
          throw new IllegalArgumentException(
            s"illegal left-hand side of assignment: $n")
        case None => n
      }
    }
    s match {
      case Stage.Where(e) => Stage.Where(subst(e, env))
      case Stage.Yield(es) => Stage.Yield(es.map(subst(_, env)))
      case Stage.Put(as) => Stage.Put(as.map { case (n, e) => (target(n), subst(e, env)) })
      case Stage.Cut(fs) => Stage.Cut(fs.map { case (n, oe) => (target(n), oe.map(subst(_, env))) })
      case Stage.Sort(ks, nf) => Stage.Sort(ks.map { case (e, asc) => (subst(e, env), asc) }, nf)
      case Stage.Summarize(aggs, keys) =>
        Stage.Summarize(
          aggs.map { case (n, AggCall(fn, arg, w, named)) =>
            (n, AggCall(fn, arg.map(subst(_, env)), w.map(subst(_, env)), named))
          },
          keys.map { case (n, e) => (n, subst(e, env)) })
      case Stage.Over(es, vars, body) =>
        Stage.Over(es.map(subst(_, env)),
          vars.map { case (n, e) => (n, subst(e, env)) },
          body.map(p => Pipeline(p.stages.map(substStage(_, env)))))
      // nested user-op calls were inlined as Blocks while their callers'
      // bodies parsed — substitute THROUGH them or inner params stay
      // unbound (statements.md nested add4/add2/add1)
      case Stage.Block(p) => Stage.Block(Pipeline(p.stages.map(substStage(_, env))))
      case Stage.From(t, fmt, k, extras) =>
        // `from <param>` takes the argument as the source name; keep the
        // method/headers/body extras through the substitution
        env.get(t) match {
          case Some(Expr.StringLit(v)) => Stage.From(v, fmt, k, extras)
          case Some(Expr.Path(ps)) => Stage.From(ps.mkString("."), fmt, k, extras)
          case _ => s
        }
      case Stage.Fork(bs) =>
        Stage.Fork(bs.map(p => Pipeline(p.stages.map(substStage(_, env)))))
      case Stage.Switch(subj, cases, default) =>
        Stage.Switch(subj.map(subst(_, env)),
          cases.map { case (c, p) => (subst(c, env), Pipeline(p.stages.map(substStage(_, env)))) },
          default.map(p => Pipeline(p.stages.map(substStage(_, env)))))
      case Stage.Rename(rs) =>
        Stage.Rename(rs.map { case (to, from) => (target(to), target(from)) })
      case Stage.Join(style, right, lk, rk, graftAs) =>
        Stage.Join(style,
          right.map(p => Pipeline(p.stages.map(substStage(_, env)))),
          subst(lk, env), subst(rk, env),
          graftAs.map { case (n, e) => (target(n), subst(e, env)) })
      case Stage.Drop(ps) => Stage.Drop(ps.map(target))
      case Stage.Top(n, ks) => Stage.Top(n, ks.map(subst(_, env)))
      case Stage.Merge(ks) =>
        Stage.Merge(ks.map { case (e, asc) => (subst(e, env), asc) })
      case Stage.Assert(e, text) => Stage.Assert(subst(e, env), text)
      case other => other
    }
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 't' => sb.append('\t')
          case 'r' => sb.append('\r'); case c => sb.append(c)
        }
        i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** f-string body → concat of literals and `{expr}` replacements. */
  private def parseFString(raw: String): Expr = {
    val parts = Vector.newBuilder[Expr]
    val lit = new StringBuilder
    var i = 0
    def flush(): Unit =
      if (lit.nonEmpty) { parts += Expr.StringLit(unescape(lit.toString)); lit.clear() }
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length && raw.charAt(i + 1) == '{') {
        lit.append('{'); i += 2 // \{ is a literal brace, not interpolation
      } else if (c == '{') {
        flush()
        var depth = 1; val start = i + 1; var j = i + 1
        while (j < raw.length && depth > 0) {
          raw.charAt(j) match {
            case '{' => depth += 1; case '}' => depth -= 1; case _ =>
          }
          if (depth > 0) j += 1
        }
        if (depth != 0) fail("unterminated { in f-string")
        val inner = raw.substring(start, j)
        parts += subst(new Parser(Lexer.lex(inner), inner).parseExpr(), consts.toMap)
        i = j + 1
      } else { lit.append(c); i += 1 }
    }
    flush()
    val ps = parts.result()
    if (ps.isEmpty) Expr.StringLit("")
    else Expr.Call("__concat", ps)
  }

  /** Structural f-string parse for canonical printing (noExpand mode). */
  private def parseFStringKeep(raw: String): Expr = {
    val elems = Vector.newBuilder[Either[String, Expr]]
    val lit = new StringBuilder
    var i = 0
    def flush(): Unit =
      if (lit.nonEmpty) { elems += Left(lit.toString); lit.clear() }
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length && raw.charAt(i + 1) == '{') {
        lit.append("\\{"); i += 2
      } else if (c == '{') {
        flush()
        var depth = 1; val start = i + 1; var j = i + 1
        while (j < raw.length && depth > 0) {
          raw.charAt(j) match {
            case '{' => depth += 1; case '}' => depth -= 1; case _ =>
          }
          if (depth > 0) j += 1
        }
        if (depth != 0) fail("unterminated { in f-string")
        val inner = raw.substring(start, j)
        elems += Right(new Parser(Lexer.lex(inner), inner,
          keepDecls = false, expand = false).parseExpr())
        i = j + 1
      } else { lit.append(c); i += 1 }
    }
    flush()
    Expr.FString(elems.result())
  }

  // ---- stages ---------------------------------------------------------------

  private def parseStage(): Stage = {
    // `*` — the match-all filter (search-expressions.md): pass everything
    if (at("*") && (peekAt(1).text == "|" || peekAt(1).kind == EOF || peekAt(1).text == ")")) {
      next(); return Stage.Pass
    }
    if (peek.kind != ID) return parseImplied()
    if (opDefs.contains(peek.text) && peekAt(1).text == "(") {
      val (params, body) = opDefs(peek.text)
      val opName = peek.text
      next(); expect("(")
      val args = if (at(")")) Seq.empty else parseExprList()
      expect(")")
      if (noExpand) return Stage.OpCall(opName, args)
      val env = params.zip(args).toMap
      return try Stage.Block(Pipeline(body.stages.map(substStage(_, env))))
      catch {
        case e: IllegalArgumentException if Option(e.getMessage)
            .exists(_.startsWith("illegal left-hand side of assignment")) =>
          // point at the assignment inside the op body (user-errors ztest)
          val root = e.getMessage.split(": ").last
          val (bs, be) = opDefSpans.getOrElse(opName, (0, source.length))
          val m = java.util.regex.Pattern.compile(
            "\\b" + java.util.regex.Pattern.quote(root) + "\\s*:=[^\\n)|]*")
            .matcher(source)
          if (m.find(bs) && m.start < be)
            diag("illegal left-hand side of assignment",
              m.start, m.start + m.group.trim.length)
          else throw new CompileDiag("illegal left-hand side of assignment")
      }
    }
    peek.text match {
      case "from" if peekAt(1).text == "(" =>
        // `from ( <branch> <branch> ... )` — parallel sources, one branch
        // each (from.md multi-source form). A branch is `pass`, a source
        // stage, or `pool <name> [=> <pipeline>]`.
        next(); expect("(")
        val branches = Vector.newBuilder[Pipeline]
        while (!at(")") && peek.kind != EOF) {
          val b = Vector.newBuilder[Stage]
          if (atId("pass")) { next(); b += Stage.Pass }
          else if (Set("file", "from", "get")(peek.text)) b += parseStage()
          else if (atId("pool")) {
            val poolTok = peek
            next()
            val target = parseFromTarget()
            b += Stage.From(target, None, "pool")
            if (target.exists("*?/".contains(_)) && at("=>")) {
              val upTo = source.take(poolTok.pos)
              val lineNo = upTo.count(_ == '\n') + 1
              val colNo = poolTok.pos - (upTo.lastIndexOf('\n') + 1) + 1
              val lineText = source.linesWithSeparators.toSeq
                .lift(lineNo - 1).getOrElse(source).stripLineEnd
              val close = source.indexOf(")", poolTok.pos)
              val span = if (close > poolTok.pos) close - poolTok.pos + 1
                         else lineText.length - colNo + 1
              throw new CompileDiag(
                s"=> not allowed after pool pattern in 'from' operator at line $lineNo, column $colNo:\n" +
                  lineText + "\n" + (" " * (colNo - 1)) + ("~" * span))
            }
          }
          else fail("expected a source (pass/file/from/get/pool) in from(...)")
          if (at("=>")) {
            next()
            b += parseStage()
          }
          while (at("|")) { next(); b += parseStage() }
          branches += Pipeline(b.result())
        }
        expect(")")
        if (noExpand) {
          // canonical printing keeps the from(...) trunk structure
          Stage.FromTrunks(branches.result().map { p =>
            val src = p.stages.head.asInstanceOf[Stage.From]
            val rest = p.stages.tail
            src -> (if (rest.isEmpty) None else Some(Pipeline(rest)))
          })
        } else Stage.Fork(branches.result())
      case "from" | "file" | "get" =>
        val kind = next().text
        val targetTok = peek
        val text0 = parseFromTarget()
        // a const NAME as the source resolves to its STRING value
        // (semantic/op.go: source names are compile-time constants)
        val text =
          if (!noExpand && consts.contains(text0)) consts(text0) match {
            // an UNQUOTED ip literal is an ip value, not a string
            case Expr.StringLit(v)
                if !v.matches("""\d{1,3}(\.\d{1,3}){3}(/\d+)?""") => v
            case _ =>
              val upTo = source.take(targetTok.pos)
              val lineNo = upTo.count(_ == '\n') + 1
              val colNo = targetTok.pos - (upTo.lastIndexOf('\n') + 1) + 1
              val lineText = source.linesWithSeparators.toSeq
                .lift(lineNo - 1).getOrElse(source).stripLineEnd
              throw new CompileDiag(
                s"$text0: string value required at line $lineNo, column $colNo:\n" +
                  lineText + "\n" + (" " * (colNo - 1)) + ("~" * text0.length))
          } else text0
        // optional `format <f>` forces the input format (from.md)
        val fmt =
          if (atId("format") && peekAt(1).kind == ID) { next(); Some(next().text) }
          else None
        // http sources take method/headers/body options (from.md get)
        val extras = Vector.newBuilder[(String, Expr)]
        var more = true
        while (more) {
          if (atId("method") || atId("body")) {
            val k2 = next().text
            val v =
              if (peek.kind == STR) Expr.StringLit(next().text)
              else Expr.Path(Seq(next().text))
            extras += k2 -> v
          } else if (atId("headers")) {
            next()
            extras += "headers" -> parseExpr()
          } else more = false
        }
        Stage.From(text, fmt, kind, extras.result())
      case "where" | "filter" => next(); Stage.Where(parseExpr())
      case "search" =>
        // search takes SEARCH TERMS: adjacency is implicit AND
        // (search-expressions.md: `search this >= 2 this <= 2`)
        next()
        var acc = parseSearchTerm()
        while (searchTermStart && !at(",")) acc = Expr.Binary("and", acc, parseSearchTerm())
        Stage.Where(markSearch(acc))
      case "by" => parseSummarize()
      case "output" if peekAt(1).kind == ID =>
        next(); Stage.Output(next().text)
      case "cut" => next(); parseCutStage()
      case "put" => next(); parsePutStage()
      case "drop" => next(); Stage.Drop(parsePathList())
      case "rename" => next(); parseRenameStage()
      case "sort" => next(); parseSort()
      case "head" => next(); parseCount(head = true)
      case "tail" => next(); parseCount(head = false)
      case "top" => next(); parseTop()
      case "uniq" =>
        next()
        if (eat("-")) { expect("c"); Stage.Uniq(withCount = true) }
        else Stage.Uniq(withCount = false)
      case "summarize" => next(); parseSummarize()
      case "anti" | "inner" | "left" | "right" if peekAt(1).text == "join" =>
        val style = next().text; expect("join"); parseJoin(style)
      case "join" =>
        // `join(` is ambiguous with the string function join(s, sep) —
        // try the operator form, backtrack to an implied expression stage
        // on failure (semantic/op.go resolves the same way)
        val mark = pos
        try { next(); parseJoin("inner") }
        catch { case _: Exception => pos = mark; parseImplied() }
      case "fork" => next(); parseFork()
      case "switch" => next(); parseSwitch()
      case "sample" if peekAt(1).text == "|" || peekAt(1).kind == EOF ||
          peekAt(1).text == ")" || peekAt(1).kind == ID =>
        next()
        val e = if (at("|") || peek.kind == EOF || at(")")) None else Some(parseExpr())
        Stage.Sample(e)
      case "shape" if peekAt(1).text == "|" || peekAt(1).kind == EOF ||
          peekAt(1).text == ")" =>
        // bare `shape` unifies per-row types (op/shape/shaper.go) — the
        // relational equivalent of fuse
        next()
        Stage.Fuse
      case "merge" => next(); Stage.Merge(parseSortKeys())
      case "combine" => next(); Stage.Combine
      case "over" => next(); parseOver()
      case "yield" => next(); Stage.Yield(parseExprList())
      case "explode" =>
        next()
        // `explode <fields> by <type> [as <field>]` (explode.md): the
        // schema-driven leaf walk is ROOTED at the listed fields — a
        // dotted field (a.b) is ONE root at that nested path
        val roots = Vector.newBuilder[String]
        while (!atId("by") && peek.kind != EOF) {
          if (peek.kind == ID) {
            val n = parseDottedName()
            if (n != "this") roots += n
          } else next(): Unit // commas between roots
        }
        expect("by")
        val t = next().text
        val as = if (atId("as")) { next(); next().text } else "value"
        Stage.Explode(t, as, roots.result())
      case "fuse" =>
        if (peekAt(1).text == "(") parseSummarize() // fuse(e) is the type AGG
        else { next(); Stage.Fuse }
      case "load" if peekAt(1).kind == ID || peekAt(1).kind == STR =>
        // `load <pool>[@<branch>] [author <a>] [message <m>] [meta <m>]`
        // (docs/language/operators/load.md) — commits the stream to a
        // lake pool; only valid with a lake root configured
        next()
        val t = next()
        var target = t.text
        var last = t
        if (t.kind != STR) {
          while ((peek.kind == ID || peek.kind == INT ||
                  (peek.kind == PUNCT && Set("@", ":", ".", "/", "-")(peek.text))) &&
                 peek.pos == last.end) {
            last = next()
            target += last.text
          }
        }
        var author: Option[String] = None
        var message: Option[String] = None
        var looping = true
        while (looping) peek.text match {
          case "author" => next(); author = Some(next().text)
          case "message" => next(); message = Some(next().text)
          case "meta" => next(); next(): Unit // accepted, not stored
          case _ => looping = false
        }
        Stage.Load(target, author, message)
      case "pass" => next(); Stage.Pass
      case "debug" =>
        next()
        if (at("|") || peek.kind == EOF || at(")")) Stage.Debug(None)
        else Stage.Debug(Some(parseExpr()))
      case "assert" =>
        next()
        val start = peek.pos
        val e = parseExpr()
        val end = peek.pos
        Stage.Assert(e, source.substring(start, math.min(end, source.length)).trim)
      case _ => parseImplied()
    }
  }

  /** Implied put / summarize / where / yield — dispatch like semantic/op.go. */
  /** Is the cursor at `name(.name)* :=` (a dotted assignment)? */
  private def assignAhead: Boolean = {
    if (peek.kind != ID) return false
    // leading `this` or dotted name, then ANY chain of balanced [..]
    // groups (this[a][b] :=, a[b] := — lval.go Lval element chains),
    // then `:=`
    var k = 1
    while (peekAt(k).text == "." && peekAt(k + 1).kind == ID) k += 2
    while (peekAt(k).text == "[") {
      var depth = 1; k += 1
      while (depth > 0 && peekAt(k).kind != EOF) {
        if (peekAt(k).text == "[") depth += 1
        else if (peekAt(k).text == "]") depth -= 1
        k += 1
      }
      if (depth != 0) return false
    }
    peekAt(k).text == ":="
  }

  /** An assignment TARGET (lval.go Lval): a chain of static dotted
    * segments and dynamic `[<expr>]` elements — `this[a][b]`, `a[b]`,
    * `this[a]["lit"]`. All-static chains collapse to a dotted name
    * (Left); single-dynamic stays a bare expr (Right, the field named at
    * RUNTIME, lval.go ExprLvalElem); multi-element chains encode as
    * `__lval(e1, e2, …)` for the compiler's path rewrite. put/cut/rename
    * accept the dynamic form, summarize requires static
    * (summarize-lhs-error).
    */
  private def parseAssignTargetE(): Either[String, Expr] = {
    val elems = Vector.newBuilder[Expr]
    if (peek.text == "this" && peekAt(1).text == "[") next() // this
    else elems ++= parseDottedName().split('.').toSeq.map(Expr.StringLit(_): Expr)
    while (at("[")) {
      next()
      val e0: Expr =
        if (peek.kind == Lexer.STR && peekAt(1).text == "]") Expr.StringLit(next().text)
        else {
          val start = peek.pos
          val e1 = parseExpr()
          val end = tokens(math.max(0, pos - 1)).end
          // a bare symbol naming a user OP is not an expression
          // (semantic/analyzer: put-dynamic-field ztest error case)
          e1 match {
            case Expr.Path(Seq(n)) if opDefs.contains(n) =>
              diag(s"""symbol "$n" is not bound to an expression""", start, end)
            case _ =>
          }
          (e1 match {
            case Expr.Path(Seq(n)) => consts.get(n)
            case _ => None
          }) match {
            case Some(lit @ Expr.StringLit(_)) => lit
            case _ => e1
          }
        }
      expect("]")
      elems += e0
    }
    val all = elems.result()
    if (all.isEmpty) fail("expected a field name")
    else if (all.forall(_.isInstanceOf[Expr.StringLit]))
      Left(all.map { case Expr.StringLit(s) => s; case _ => "" }.mkString("."))
    else if (all.length == 1) Right(all.head)
    else Right(Expr.Call("__lval", all))
  }

  private def adjacent(a: Token, b: Token): Boolean =
    b.pos == a.end && (a.kind == ID || a.kind == INT || a.kind == PUNCT) &&
      (b.kind == ID || b.kind == INT || b.kind == PUNCT)

  /** One search term: a glob (adjacent tokens containing `*`), else a
    * normal expression (docs/language/search-expressions.md).
    */
  /** A source target: name/path/STR, `*` (all pools), `:meta`, with
    * adjacent tokens absorbed so bare `pool@branch`, `pool:branches`,
    * and dotted file names parse as ONE target.
    */
  private def parseFromTarget(): String = {
    val t = next()
    // a REGEX target selects pools by pattern (`from /.*/`, from.md)
    if (t.kind == REGEX) return "/" + t.text + "/"
    // INT head: pool names may start with digits (create-ksuid-name)
    if (t.kind != ID && t.kind != STR && t.kind != INT &&
        t.text != ":" && t.text != "*")
      fail("expected a source name or path")
    var text = t.text
    var last = t
    if (t.kind != STR && t.text != "*") {
      while ((peek.kind == ID || peek.kind == INT ||
              (peek.kind == PUNCT && Set("@", ":", ".", "/", "-", "*")(peek.text))) &&
             peek.pos == last.end) {
        last = next()
        text += last.text
      }
    }
    text
  }

  private def parseGlobOpt(): Option[Expr] = {
    if (at("*") || peek.kind == ID || peek.kind == INT) {
      var j = pos
      while ((tokens(j + 1).kind == ID || tokens(j + 1).kind == INT ||
              tokens(j + 1).text == "*") && adjacent(tokens(j), tokens(j + 1)) &&
             tokens(j + 1).kind != EOF)
        j += 1
      val run = tokens.slice(pos, j + 1)
      if (run.exists(t => t.kind == PUNCT && t.text == "*") &&
          (run.length > 1 || run.head.text != "*") &&
          // a run STARTING with a number is arithmetic (2*PI*r), not a
          // glob — zed globs begin with a letter or `*`
          run.head.kind != INT) {
        pos = j + 1
        return Some(Expr.Call("__glob", Seq(Expr.StringLit(run.map(_.text).mkString))))
      }
    }
    None
  }

  private def parseSearchLeaf(): Expr = parseGlobOpt().getOrElse(parseExpr())

  private def parseSearchTerm(): Expr = {
    val save = pos
    try parseSearchLeaf()
    catch {
      case _: Exception =>
        // a SEARCH GROUP with implicit-AND terms — `not (a==null b==null)`,
        // possibly behind leading and/or — is not an expression; re-parse
        // with the search grammar (search-expressions.md boolean structure)
        pos = save
        parseSearchGroup()
    }
  }

  /** or / and (explicit + implicit adjacency) / not / ( … ) over search
    * terms — engaged only when plain expression parsing fails.
    */
  private def parseSearchGroup(): Expr = {
    def orE(): Expr = {
      var l = andE()
      while (atKw("or")) { next(); l = Expr.Binary("or", l, andE()) }
      l
    }
    def andE(): Expr = {
      var l = notE()
      var go = true
      while (go) {
        if (atKw("and")) { next(); l = Expr.Binary("and", l, notE()) }
        else if (searchTermStart || at("(")) l = Expr.Binary("and", l, notE())
        else go = false
      }
      l
    }
    def notE(): Expr =
      if (atKw("not") || at("!")) { next(); Expr.Unary("not", notE()) }
      else if (at("(")) { next(); val e = orE(); expect(")"); e }
      // leaf at COMPARISON precedence: and/or/parens belong to the group
      // grammar here, so the leaf must not swallow them
      else parseGlobOpt().getOrElse(parseComparison())
    orE()
  }

  /** May the next token begin another implicit-AND search term? */
  private def searchTermStart: Boolean =
    (peek.kind == ID && !Set("by", "where", "with", "as", "and", "or", "not",
      "AND", "OR", "NOT", "in", "on", "case", "default")(peek.text)) ||
      peek.kind == STR || peek.kind == REGEX || at("*") || at("!") ||
      // numeric search terms: `is(<(uint16,ip)>) 80` is an implicit AND
      peek.kind == INT || peek.kind == FLOAT

  /** In zfmt parses (keepDecls), implied-search exprs carry a marker so
    * the printers can tell `a` (keyword search) from `where a` (boolean
    * field test) — the reference ASTs are distinct nodes.
    */
  private def markSearch(e: Expr): Expr =
    if (keepDecls) Expr.Call("__impliedsearch", Seq(e)) else e

  private def parseImplied(): Stage = {
    // assignment-led: f:=... (put or summarize)
    if (assignAhead) {
      val save = pos
      // a mixed list like `s:=sum(x), max(x)` only parses as SUMMARIZE
      // (bare agg calls auto-name) — fall through on assign-parse failure
      val assignsOpt =
        try Some(parseAssignListE()) catch { case _: Exception => pos = save; None }
      assignsOpt match {
        case Some(assigns) if atId("by") || assigns.exists(a => isAggTop(a._2)) =>
          // dynamic lhs over an aggregate is the reference's static-only
          // error (summarize-lhs-error ztest)
          if (assigns.exists(_._1.isRight)) {
            val msg =
              if (!atId("by") && assigns.exists(a => isAggTop(a._2)))
                "aggregate output field must be static"
              else "output field must be static"
            val ix = source.indexOf("this[", 0)
            val close = if (ix >= 0) source.indexOf("]", ix) else -1
            if (ix >= 0 && close > ix) diag(msg, ix, close + 1)
            else throw new CompileDiag(msg)
          }
          pos = save
          parseSummarize(implied = true)
        case Some(assigns) if assigns.forall(_._1.isLeft) =>
          Stage.Put(assigns.map { case (t, e) => (t.swap.getOrElse(""), e) })
        case Some(assigns) => Stage.DynAssign("put", assigns.map {
          case (Left(n), e) => (Expr.StringLit(n): Expr, e)
          case (Right(ne), e) => (ne, e)
        })
        case None => parseSummarize(implied = true)
      }
    } else if (peek.kind == ID && aggFns(peek.text) && peekAt(1).text == "(") {
      parseSummarize(implied = true)
    } else {
      val e = parseSearchTerm()
      // adjacent search terms AND together (search-expressions.md):
      // `widget price > 1000` ≡ widget AND price > 1000
      if (searchTermStart && !at(",")) {
        var acc = e
        while (searchTermStart) acc = Expr.Binary("and", acc, parseSearchTerm())
        return Stage.Where(markSearch(acc))
      }
      e match {
        case Expr.Call("__glob", _) => Stage.Where(markSearch(e))
        // a lone bare word or string literal is a keyword search, not a
        // yield (search-expressions.md; semantic/op.go implied search)
        case Expr.Path(Seq(_)) => Stage.Where(markSearch(e))
        case Expr.StringLit(_) => Stage.Where(markSearch(e))
        // a lone number is a value search, not a yield (zq '2' matches
        // records containing the value 2 — semantic/op.go implied search)
        case Expr.IntLit(_) | Expr.FloatLit(_) => Stage.Where(markSearch(e))
        case _ if isBooleanShaped(e) => Stage.Where(e)
        case _ =>
          val exprs = Vector.newBuilder[Expr]
          exprs += e
          while (eat(",")) exprs += parseExpr()
          Stage.Yield(exprs.result())
      }
    }
  }

  private def isAggTop(e: Expr): Boolean = e match {
    case Expr.Call(fn, _) => aggFns(fn)
    case _ => false
  }

  private def isBooleanShaped(e: Expr): Boolean = e match {
    case Expr.Binary(op, _, _) =>
      Set("==", "!=", "<", "<=", ">", ">=", "and", "or", "in", "=~")(op)
    case Expr.Unary("not", _) | Expr.Unary("!", _) => true
    case Expr.Call(fn, _) =>
      Set("grep", "cidr_match", "missing", "has", "is", "is_error",
        "regexp_matches", "__regexsearch", "__instar")(fn)
    case Expr.BoolLit(_) => true
    case _ => false
  }

  // cut: field[:=expr] | <expr> (name inferred), ...
  private def parseFieldListE(): Seq[(Either[String, Expr], Option[Expr])] = {
    val out = Vector.newBuilder[(Either[String, Expr], Option[Expr])]
    do {
      if (assignAhead) {
        val path = parseAssignTargetE(); next()
        var e = parseExpr()
        // an aggregate in cut/put expression position is a RUNNING
        // aggregate, optionally filtered (agg-expr-where ztest:
        // `cut sum := sum(this) where cond` emits the cumulative sum)
        if (isAggTop(e) && atId("where")) {
          next(); e = Expr.Call("__aggwhere", Seq(e, parseExpr()))
        }
        out += ((path, Some(e)))
      } else if (peek.kind == ID && peekAt(1).text != "(" &&
          (peekAt(1).text != "[" ||
            (peekAt(2).kind == Lexer.STR && peekAt(3).text == "]"))) {
        // a constant string index is a dotted step (cut rec['bar'])
        out += ((Left(parseDottedName()), None))
      } else {
        // bare expression — field name inferred (cutter.go deriveAs)
        val e = parseExpr()
        out += ((Left(Expr.inferName(e)), Some(e)))
      }
    } while (eat(","))
    out.result()
  }

  /** Cut stage: static targets stay the native-column path; any computed
    * `this[<expr>]` target switches the whole cut to the dynamic-shape
    * row rewrite (cut-dynamic-field ztest).
    */
  private def parseCutStage(): Stage = {
    val startPos = peek.pos
    val fs = parseFieldListE()
    val endPos = tokens(math.max(0, pos - 1)).end
    if (fs.forall(_._1.isLeft)) {
      // nested cut targets must keep each record's fields ADJACENT
      // (runtime/sam/expr/cutter.go: records build in field order and
      // cannot reopen — cut-not-adjacent ztest)
      val names = fs.collect { case (Left(n), _) => n }
      // duplicate targets (exact or prefix-overlapping) are compile
      // errors (cutter.go cut-dup-fields): the LATER path is reported,
      // except an extension of an earlier path reports the extension
      val prior = scala.collection.mutable.ArrayBuffer.empty[String]
      names.foreach { n =>
        prior.find(p0 => p0 == n || p0.startsWith(n + ".") ||
            n.startsWith(p0 + ".")) match {
          case Some(p0) =>
            // the LATER path is always the reported duplicate — whether
            // it extends or is extended by the earlier (cut-dup-fields:
            // `cut rec.sub.sub,rec.sub` reports rec.sub)
            val dup = n
            diag(s"""duplicate field: "$dup"""", startPos, endPos)
          case None =>
        }
        prior += n
      }
      val seen = scala.collection.mutable.HashSet.empty[String]
      var active = Set.empty[String]
      names.foreach { n =>
        val parts = n.split("\\.").toSeq
        val prefixes = (1 until parts.length).map(k => parts.take(k).mkString("."))
        prefixes.foreach { pre =>
          if (seen(pre) && !active(pre))
            diag(s"fields in record $pre must be adjacent", startPos, endPos)
          seen += pre
        }
        active = prefixes.toSet
      }
      Stage.Cut(fs.map { case (t, e) => (t.swap.getOrElse(""), e) })
    }
    else Stage.DynAssign("cut", fs.map {
      case (Left(n), Some(e)) => (Expr.StringLit(n): Expr, e)
      case (Left(n), None) => (Expr.StringLit(n): Expr, Expr.Path(n.split('.').toSeq): Expr)
      case (Right(ne), Some(e)) => (ne, e)
      case (Right(ne), None) => (ne, Expr.NullLit: Expr)
    })
  }

  private def parseAssignListE(): Seq[(Either[String, Expr], Expr)] = {
    val out = Vector.newBuilder[(Either[String, Expr], Expr)]
    do {
      val path = parseAssignTargetE()
      expect(":=")
      out += ((path, parseExpr()))
    } while (eat(","))
    out.result()
  }

  /** Put stage: dynamic targets (this[<expr>] :=) switch to the row-level
    * rewrite (put-dynamic-field ztest); all-static stays native.
    */
  private def parsePutStage(): Stage = {
    val as = parseAssignListE()
    if (as.forall(_._1.isLeft))
      Stage.Put(as.map { case (t, e) => (t.swap.getOrElse(""), e) })
    else Stage.DynAssign("put", as.map {
      case (Left(n), e) => (Expr.StringLit(n): Expr, e)
      case (Right(ne), e) => (ne, e)
    })
  }

  private def parsePathList(): Seq[String] = {
    val out = Vector.newBuilder[String]
    do out += parseDottedName() while (eat(","))
    out.result()
  }

  /** Rename: either side may be a computed `this[<expr>]` field name
    * (rename-dynamic-field ztest) — any dynamic side switches to the
    * row-level rewrite.
    */
  private def parseRenameStage(): Stage = {
    val out = Vector.newBuilder[(Either[String, Expr], Either[String, Expr])]
    do {
      val to = parseAssignTargetE(); expect(":="); val from = parseAssignTargetE()
      out += ((to, from))
    } while (eat(","))
    val rs = out.result()
    if (rs.forall(r => r._1.isLeft && r._2.isLeft))
      Stage.Rename(rs.map { case (t, f) =>
        (t.swap.getOrElse(""), f.swap.getOrElse("")) })
    else Stage.DynAssign("rename", rs.map { case (t, f) =>
      (t.fold(Expr.StringLit(_): Expr, identity),
       f.fold(Expr.StringLit(_): Expr, identity))
    })
  }

  private def parseDottedName(): String = {
    if (peek.kind != ID) fail("expected a field name")
    val sb = new StringBuilder(next().text)
    var going = true
    while (going) {
      if (at(".")) {
        next()
        if (peek.kind != ID) fail("expected a field name after '.'")
        sb.append('.').append(next().text)
      } else if (at("[") && peekAt(1).kind == Lexer.STR &&
          peekAt(2).text == "]") {
        // a constant string index is a dotted step (cut rec['bar'])
        next()
        sb.append('.').append(next().text)
        expect("]")
      } else going = false
    }
    sb.toString
  }

  private def parseSort(): Stage = {
    var reverse = false
    var nullsFirst = false
    while (at("-")) {
      next()
      next().text match {
        case "r" => reverse = true
        case "nulls" =>
          next().text match {
            case "first" => nullsFirst = true
            case "last" => nullsFirst = false
            case other => fail(s"bad -nulls value '$other'")
          }
        case other => fail(s"unknown sort flag -$other")
      }
    }
    val keys =
      if (atPipelineEnd || at("|")) Seq.empty
      else parseSortKeys()
    val adjusted = keys.map { case (e, asc) => (e, if (reverse) !asc else asc) }
    Stage.Sort(adjusted, nullsFirst)
  }

  private def parseSortKeys(): Seq[(Expr, Boolean)] = {
    val out = Vector.newBuilder[(Expr, Boolean)]
    do {
      val e = parseExpr()
      val asc =
        if (atId("asc")) { next(); true }
        else if (atId("desc")) { next(); false }
        else true
      out += ((e, asc))
    } while (eat(","))
    out.result()
  }

  /** `head [expr]` / `tail [expr]`: the argument is any CONSTANT integer
    * expression (semantic/op.go evalPositiveInteger); a non-integer value
    * errors with the reference's caret diagnostic.
    */
  private def parseCount(head: Boolean): Stage = {
    // a following SOURCE keyword starts the next from(...) trunk, not a
    // count expression (`from ( file path => head get http://… )`)
    if (at("|") || atPipelineEnd ||
        (peek.kind == ID && Set("get", "file", "pool", "pass")(peek.text)))
      return if (head) Stage.Head(1, explicit = false)
      else Stage.Tail(1, explicit = false)
    val startTok = peek
    val e = parseExpr()
    val endPos = tokens(math.max(0, pos - 1)).end
    constFold(e) match {
      case Some(n) => if (head) Stage.Head(n.toInt) else Stage.Tail(n.toInt)
      case None =>
        val valueText = e match {
          case Expr.FloatLit(d) =>
            if (d == Math.floor(d) && Math.abs(d) < 1e15) s"${d.toLong}." else d.toString
          case Expr.StringLit(s) => "\"" + s + "\""
          case Expr.BoolLit(b) => b.toString
          case _ => "error(\"missing\")"
        }
        // "expression value must be an integer value: 1. at line 1, column 6:"
        // + source line + tilde span (the reference's compile diagnostics;
        // string values carry NO period before `at`, matching head.yaml)
        val upTo = source.take(startTok.pos)
        val lineNo = upTo.count(_ == '\n') + 1
        val colNo = startTok.pos - (upTo.lastIndexOf('\n') + 1) + 1
        val lineText = source.linesWithSeparators.toSeq
          .lift(lineNo - 1).getOrElse(source).stripLineEnd
        val span = math.max(1, endPos - startTok.pos)
        throw new CompileDiag(
          s"expression value must be an integer value: $valueText at line $lineNo, column $colNo:\n" +
            lineText + "\n" + (" " * (colNo - 1)) + ("~" * span))
    }
  }

  private def parseOptionalInt(default: Int): Int =
    if (peek.kind == INT) {
      // a constant EXPRESSION is allowed (`head 1+1`, head.md) — fold it
      if (Set("+", "-", "*", "/", "%")(peekAt(1).text)) {
        constFold(parseExpr()) match {
          case Some(n) => n.toInt
          case None => fail("head/tail count must be a constant expression")
        }
      } else next().text.toInt
    } else default

  /** Fold an integer-constant expression at parse time. */
  private def constFold(e: Expr): Option[Long] = e match {
    case Expr.IntLit(v) => Some(v)
    case Expr.Unary("-", x) => constFold(x).map(-_)
    case Expr.Binary(op, l, r) =>
      for (a <- constFold(l); b <- constFold(r); v <- op match {
        case "+" => Some(a + b)
        case "-" => Some(a - b)
        case "*" => Some(a * b)
        case "/" if b != 0 => Some(a / b)
        case "%" if b != 0 => Some(a % b)
        case _ => None
      }) yield v
    case _ => None
  }

  private def parseTop(): Stage = {
    val n = parseOptionalInt(100)
    val keys =
      if (atPipelineEnd || at("|")) Seq.empty
      else parseExprList()
    Stage.Top(n, keys)
  }

  private def parseSummarize(implied: Boolean = false): Stage = {
    if (eat("summarize")) ()
    // `by`-only form: every key, no aggs
    if (atId("by")) { next(); return Stage.Summarize(Seq.empty, parseKeyList()) }
    val aggs = Vector.newBuilder[(String, AggCall)]
    var done = false
    while (!done) {
      val name =
        if (assignAhead) { val n = parseDottedName(); next(); Some(n) }
        else None
      val fn = next().text
      if (!aggFns(fn)) fail(s"unknown aggregate function '$fn'")
      expect("(")
      val arg = if (at(")")) None else Some(parseExpr())
      expect(")")
      if (arg.isEmpty && fn != "count")
        throw new CompileDiag(s"$fn: argument required")
      val where = if (atId("where")) { next(); Some(parseExpr()) } else None
      aggs += ((name.getOrElse(fn), AggCall(fn, arg, where, named = name.isDefined)))
      done = !eat(",")
    }
    val keys = if (atId("by")) { next(); parseKeyList() } else Seq.empty
    // `with -limit N` caps per-group state in the reference's partials
    // tests (groupby.go); declarative aggregation needs no cap — consume
    if (atId("with")) {
      next()
      if (at("-")) next()
      if (peek.kind == ID) next()
      if (peek.kind == INT) next()
    }
    Stage.Summarize(aggs.result(), keys)
  }

  // by [field][:=expr], ... — name inferred from expr when omitted
  private def parseKeyList(): Seq[(String, Expr)] = {
    val out = Vector.newBuilder[(String, Expr)]
    do {
      // a dynamic key NAME (by this[e] := k) is a compile error
      // (summarize-lhs-error ztest)
      if (atId("this") && peekAt(1).text == "[") {
        val ix = peek.pos
        val close = source.indexOf("]", ix)
        if (close > ix && source.substring(close).contains(":="))
          diag("output field must be static", ix, close + 1)
      }
      if (assignAhead) {
        val n = parseDottedName(); next()
        out += ((n, parseExpr()))
      } else {
        val e = parseExpr()
        // group keys keep their full dotted path as the output name, so
        // `by rec.i` rebuilds {rec:{i:…}} (groupby key-in-record)
        val n = e match {
          case Expr.Path(ps) if ps.nonEmpty => ps.mkString(".")
          case _ => Expr.inferName(e)
        }
        out += ((n, e))
      }
    } while (eat(","))
    out.result()
  }

  private def parseJoin(style: String): Stage = {
    // two-parent form (`fork (...) | join on a=a`): no right sub-pipeline,
    // the join consumes the TWO upstream branches (semantic/op.go)
    if (atId("on")) {
      next()
      val cond = parseExpr()
      val (lk, rk) = cond match {
        case Expr.Binary("==", l, r) => (l, r)
        // `on <k>` names the SHARED key (join expr ztest: on s b)
        case other if !at("=") => (other, other)
        case other => expect("="); (other, parseExpr())
      }
      val graft =
        if (peek.kind == ID && (peekAt(1).text == ":=" || at("|") == false && !atPipelineEnd))
          parseJoinGraft()
        else Seq.empty
      return Stage.Join(style, None, lk, rk, graft)
    }
    expect("(")
    val right = parsePipeline()
    expect(")")
    expect("on")
    val cond = parseExpr()
    val (lk, rk) = cond match {
      case Expr.Binary("==", l, r) => (l, r)
      // `on <k>` names the SHARED key on both sides
      case other if !at("=") => (other, other)
      case other =>
        // `on <lk>=<rk>` with single '=': parseExpr stops before '='
        expect("=")
        (other, parseExpr())
    }
    val graft =
      if (peek.kind == ID && (peekAt(1).text == ":=" || at("|") == false && !atPipelineEnd))
        parseJoinGraft()
      else Seq.empty
    Stage.Join(style, Some(right), lk, rk, graft)
  }

  private def parseJoinGraft(): Seq[(String, Expr)] = {
    if (at("|") || atPipelineEnd) return Seq.empty
    val out = Vector.newBuilder[(String, Expr)]
    do {
      if (peek.kind == ID && peekAt(1).text == ":=") {
        val n = next().text; next()
        out += ((n, parseExpr()))
      } else {
        val e = parseExpr()
        out += ((Expr.inferName(e), e))
      }
    } while (eat(","))
    out.result()
  }

  private def parseFork(): Stage = {
    expect("(")
    val branches = Vector.newBuilder[Pipeline]
    while (eat("=>")) branches += parsePipeline()
    expect(")")
    Stage.Fork(branches.result())
  }

  private def parseSwitch(): Stage = {
    // locate the CASES-open "(" (the depth-0 paren whose next token is
    // case/default): the subject may itself contain parens or end in a
    // call-like shape (`switch (e) (…)`, `switch x in tbl (…)`) that
    // plain expression parsing would swallow as a call
    val casesAt: Int = {
      var k = 0; var depth = 0; var found = -1; var stop = false
      while (!stop && found < 0) {
        val t = peekAt(k)
        if (t.kind == EOF) stop = true
        else if (depth == 0 && t.text == "(" &&
                 (peekAt(k + 1).text == "case" || peekAt(k + 1).text == "default"))
          found = k
        else {
          t.text match {
            case "(" | "[" | "{" => depth += 1
            case ")" | "]" | "}" =>
              if (depth == 0) stop = true else depth -= 1
            case "|" if depth == 0 => stop = true
            case _ =>
          }
          k += 1
        }
      }
      found
    }
    val subject =
      if (casesAt == 0) None
      else if (casesAt > 0) {
        val slice = tokens.slice(pos, pos + casesAt) :+
          Token(EOF, "", peekAt(casesAt).pos)
        val sub = new Parser(slice, source)
        // the subject shares this scope's symbol tables (consts/funcs/
        // typedefs resolve at parse time)
        sub.consts ++= consts; sub.funcs ++= funcs
        sub.typeDefs ++= typeDefs; sub.opDefs ++= opDefs
        val e = sub.parseExpr()
        pos += casesAt
        Some(e)
      }
      else if (at("(")) None
      else Some(parseExpr())
    expect("(")
    val cases = Vector.newBuilder[(Expr, Pipeline)]
    var default: Option[Pipeline] = None
    var done = false
    while (!done) {
      if (atId("case")) {
        next()
        val c = parseExpr()
        expect("=>")
        cases += ((c, parsePipeline()))
      } else if (atId("default")) {
        next(); expect("=>")
        default = Some(parsePipeline())
      } else done = true
    }
    expect(")")
    Stage.Switch(subject, cases.result(), default)
  }

  private def parseOver(): Stage = {
    val exprs = parseExprList()
    val vars = Vector.newBuilder[(String, Expr)]
    if (atId("with")) {
      next()
      do {
        val n = next().text
        if (eat("=")) vars += ((n, parseExpr()))
        else vars += ((n, Expr.Path(Seq(n))))
      } while (eat(","))
    }
    val body =
      if (eat("=>")) { expect("("); val p = parsePipeline(); expect(")"); Some(p) }
      else None
    Stage.Over(exprs, vars.result(), body)
  }

  private def parseExprList(): Seq[Expr] = {
    val out = Vector.newBuilder[Expr]
    do out += parseExpr() while (eat(","))
    out.result()
  }

  /** Expr list allowing `...spread` elements (array/set constructors). */
  private def parseSpreadableList(end: String): Seq[Expr] = {
    val out = Vector.newBuilder[Expr]
    do {
      if (eat("...")) out += Expr.Call("__spread", Seq(parseExpr()))
      else out += parseExpr()
    } while (eat(",") && !at(end))
    out.result()
  }

  // ---- expressions (Pratt) --------------------------------------------------

  def parseExpr(): Expr = parseTernary()

  private def parseTernary(): Expr = {
    val c = parseOr()
    if (eat("?")) {
      val t = parseExpr()
      expect(":")
      val f = parseExpr()
      Expr.Cond(c, t, f)
    } else c
  }

  private def parseOr(): Expr = {
    var l = parseAnd()
    while (atKw("or") || at("||")) { next(); l = Expr.Binary("or", l, parseAnd()) }
    l
  }

  private def parseAnd(): Expr = {
    var l = parseNot()
    while (atKw("and") || at("&&")) { next(); l = Expr.Binary("and", l, parseNot()) }
    l
  }

  private def parseNot(): Expr =
    if (atKw("not") || at("!")) { next(); Expr.Unary("not", parseNot()) }
    else parseComparison()

  private def parseComparison(): Expr = {
    val l = parseAdditive()
    val op = peek.text
    if (peek.kind == PUNCT && Set("==", "!=", "<", "<=", ">", ">=", "=~")(op)) {
      next(); Expr.Binary(op, l, parseAdditive())
    } else if (peek.kind == PUNCT && op == "~") {
      // `e ~ /re/` regexp match
      next(); Expr.Binary("=~", l, parseAdditive())
    } else if (atId("in")) {
      next()
      if (at("*")) { next(); Expr.Call("__instar", Seq(l)) } // `x in *`: anywhere
      else Expr.Binary("in", l, parseAdditive())
    } else l
  }

  private def parseAdditive(): Expr = {
    var l = parseMultiplicative()
    while (peek.kind == PUNCT && (at("+") || at("-"))) {
      val op = next().text
      l = Expr.Binary(op, l, parseMultiplicative())
    }
    l
  }

  private def parseMultiplicative(): Expr = {
    var l = parseUnary()
    while (peek.kind == PUNCT && (at("*") || at("/") || at("%"))) {
      val op = next().text
      l = Expr.Binary(op, l, parseUnary())
    }
    l
  }

  private def parseUnary(): Expr =
    if (at("-")) { next(); Expr.Unary("-", parseUnary()) }
    else parsePostfix()

  private def parsePostfix(): Expr = {
    var e = parsePrimary()
    var done = false
    while (!done) {
      if (at("[")) {
        next()
        // slice `[lo:hi]` (either bound optional) vs index `[i]`
        val lo = if (at(":")) None else Some(parseExpr())
        if (eat(":")) {
          val hi = if (at("]")) None else Some(parseExpr())
          expect("]")
          e = Expr.Call("__slice",
            Seq(e, lo.getOrElse(Expr.NullLit), hi.getOrElse(Expr.NullLit)))
        } else {
          expect("]")
          e = Expr.Index(e, lo.get)
        }
      } else if (at(".") && peekAt(1).kind == ID) {
        next()
        val field = next().text
        e = e match {
          case Expr.Path(parts) => Expr.Path(parts :+ field)
          case other => Expr.Call("__getfield", Seq(other, Expr.StringLit(field)))
        }
      } else done = true
    }
    e
  }

  private def parsePrimary(): Expr = {
    val t = peek
    t.kind match {
      case INT => next(); Expr.IntLit(t.text.toLong)
      case FLOAT => next(); Expr.FloatLit(t.text.toDouble)
      case STR => next(); Expr.StringLit(t.text)
      case FSTR =>
        next()
        if (noExpand) parseFStringKeep(t.text) else parseFString(t.text)
      case REGEX =>
        // bare /re/ is a regexp search over the record (search-expressions)
        next(); Expr.Call("__regexsearch", Seq(Expr.StringLit(t.text)))
      case TIME =>
        next()
        val iso = if (t.text.length == 10) t.text + "T00:00:00Z"
                  else if (t.text.endsWith("Z")) t.text else t.text + "Z"
        val inst = java.time.Instant.parse(iso)
        Expr.TimeLit(inst.getEpochSecond * 1000000000L + inst.getNano, t.text)
      case DUR =>
        next()
        Expr.DurationLit(graft.operators.ZedOps.durationNanos(t.text), t.text)
      case ID =>
        t.text match {
          case "true" => next(); Expr.BoolLit(true)
          case "false" => next(); Expr.BoolLit(false)
          case "null" => next(); Expr.NullLit
          case "this" => next(); Expr.Path(Seq.empty)
          case name if peekAt(1).text == "(" =>
            next(); next() // name (
            val args =
              if (at(")")) Seq.empty
              // grep's pattern argument may be a bare glob: grep(b*, s)
              else if (name == "grep") {
                val first = parseGlobOpt().getOrElse(parseExpr())
                val rest = Vector.newBuilder[Expr]
                while (eat(",")) rest += parseExpr()
                first +: rest.result()
              } else parseExprList()
            expect(")")
            // map(v, f): f is a function NAME — rewrite to a lambda body
            // over the element (`this` inside = the element; map.md)
            if (name == "map" && args.length == 2) {
              val bodyE = args(1) match {
                case Expr.Path(Seq(f)) if funcs.contains(f) =>
                  val (ps, b) = funcs(f)
                  if (ps.length != 1) fail(s"map: func $f must take one argument")
                  subst(b, Map(ps.head -> Expr.Path(Seq.empty)))
                case Expr.Path(Seq(f)) => Expr.Call(f, Seq(Expr.Path(Seq.empty)))
                case other => fail(s"map: second argument must be a function name, got $other")
              }
              return Expr.Call("__mapf", Seq(args(0), bodyE))
            }
            funcs.get(name) match {
              case Some((params, _)) if params.length != args.length =>
                // "call expects N argument(s)" spans the whole call
                diag(s"call expects ${params.length} argument(s)",
                  t.pos, tokens(math.max(0, pos - 1)).end)
              case Some(_) if noExpand || !expandFuncs => Expr.Call(name, args)
              case Some((params, body)) => // user-defined func: expand inline
                if (params.length != args.length)
                  fail(s"func $name expects ${params.length} args, got ${args.length}")
                // a body still referencing the func table is (mutually)
                // recursive — macro expansion would not terminate
                if (referencesFuncTable(body)) Expr.RecCall(name, funcs.toMap, args)
                else subst(body, params.zip(args).toMap)
              case None if typeDefs.contains(name) => // named type as cast
                Expr.Call("cast", args :+ Expr.StringLit(typeDefs(name)))
              case None if consts.contains(name) =>
                diag("not a function", t.pos, t.end)
              case None => Expr.Call(name, args)
            }
          case name if consts.contains(name) =>
            next()
            if (noExpand) Expr.Path(Seq(name)) else consts(name)
          case name if typeDefs.contains(name) && peekAt(1).text != ":" =>
            // a declared type name in VALUE position is a type value
            // (semantic ID resolution: consts, then types, then fields)
            next(); Expr.Call("__typeval", Seq(Expr.StringLit(typeDefs(name))))
          case _ => next(); Expr.Path(Seq(t.text))
        }
      case PUNCT =>
        t.text match {
          case "<" =>
            // `<type>` literal (cast(x, <port>), is(<int64>)…): collected as
            // the type's text, with named types resolved
            next()
            val sb = new StringBuilder
            while (!at(">")) {
              if (peek.kind == EOF) fail("unterminated <type> literal")
              val tok = next()
              // resolve named types token-wise so nested names expand too
              sb.append(
                // a field NAME (followed by ':') must not resolve as a type ref
                if (tok.kind == Lexer.ID && peek.text != ":" && peek.text != "=")
                  typeDefs.getOrElse(tok.text, tok.text)
                else tok.text)
            }
            expect(">")
            val text = sb.toString
            // `<type>(expr)` is the cast-call form (expressions.md:
            // `yield <port>(this)` ≡ cast(this, <port>))
            if (at("(")) {
              next()
              val arg = parseExpr()
              expect(")")
              Expr.Call("cast", Seq(arg, Expr.StringLit(text)))
            }
            // a bare UNKNOWN name is a runtime named-type reference —
            // resolved against the data's own named types at compile
            // time (data-types.md: `yield <foo>` on `1(=foo)` input)
            else if (text.matches("[A-Za-z_][A-Za-z0-9_]*") &&
                !typeDefs.contains(text) &&
                !graft.functions.ZShaper.primTypeNames(text))
              Expr.Call("__typename", Seq(Expr.StringLit(text)))
            else if (noExpand)
              // keep type-value identity for canonical printing
              Expr.Call("__typeval", Seq(Expr.StringLit(text)))
            else Expr.StringLit(text)
          case "(" =>
            next()
            if (atId("over")) {
              // lateral subquery in expression position: `(over e | …)`
              // (OverExpr, compiler/kernel/expr.go:102)
              val p = parsePipeline()
              expect(")")
              Expr.SubQuery(p)
            } else {
              val e = parseExpr()
              expect(")")
              e
            }
          case "[" =>
            next()
            val items = if (at("]")) Seq.empty else parseSpreadableList("]")
            expect("]")
            Expr.ArrayLit(items)
          case "|[" =>
            // set literal — dedup + sort on construction (SURVEY §1.4)
            next()
            val items = if (at("]|")) Seq.empty else parseSpreadableList("]|")
            expect("]|")
            Expr.Call("__setlit", items)
          case "|{" =>
            // map literal |{k:v,…}|
            next()
            val entries = Vector.newBuilder[Expr]
            if (!at("}|")) {
              do {
                entries += parseExpr()
                expect(":")
                entries += parseExpr()
              } while (eat(","))
            }
            expect("}|")
            Expr.Call("__maplit", entries.result())
          case "{" =>
            next()
            val fields = Vector.newBuilder[(String, Expr)]
            if (!at("}")) {
              do {
                if (eat("...")) fields += (("...", parseExpr())) // spread
                else {
                  val n = next().text
                  if (eat(":")) fields += ((n, parseExpr()))
                  else fields += ((n, Expr.Path(Seq(n)))) // {a} shorthand
                }
              } while (eat(","))
            }
            expect("}")
            Expr.RecordLit(fields.result())
          case "*" if (peekAt(1).kind == ID || peekAt(1).text == "*") &&
              adjacent(peek, peekAt(1)) =>
            // a glob in expression position: grep(*foo*) (grep.md)
            var j = pos
            while ((tokens(j + 1).kind == ID || tokens(j + 1).kind == INT ||
                    tokens(j + 1).text == "*") && adjacent(tokens(j), tokens(j + 1)) &&
                   tokens(j + 1).kind != EOF)
              j += 1
            val run = tokens.slice(pos, j + 1)
            pos = j + 1
            Expr.Call("__glob", Seq(Expr.StringLit(run.map(_.text).mkString)))
          case other => fail(s"unexpected '$other' in expression")
        }
      case EOF => fail("unexpected end of input")
    }
  }
}

object Parser {
  def parse(query: String): Pipeline =
    spliceBlocks(new Parser(Lexer.lex(query), query).parseQuery())

  /** Inline top-level user-op Blocks into the enclosing pipeline: the
    * Block wrapper is just the inlining seam, and splicing lets stage-
    * position dispatch (lake `from <pool>` as the FIRST stage) see
    * through an op call like `CountPool("example")` (statements.md).
    */
  private def spliceBlocks(p: Pipeline): Pipeline =
    Pipeline(p.stages.flatMap {
      case Stage.Block(inner) => spliceBlocks(inner).stages
      case s => Seq(s)
    })

  def parseExpression(text: String): Expr =
    new Parser(Lexer.lex(text), text).parseExpr()
}
