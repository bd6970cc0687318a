package graft.lang

/** Canonical and semantic-DAG query printing for `super dev compile`
  * (-C / -C -s), re-expressing the reference's zfmt package
  * (zfmt/format.go formatter, zfmt/ast.go canon, zfmt/dag.go canonDAG)
  * over this engine's AST.
  */
object Zfmt {

  /** zfmt/format.go: an indenting writer with deferred newline/tab. */
  final class Fmt(tab: Int = 2) {
    private val sb = new StringBuilder
    var indent = 0
    private var needTab = false
    private var needRet = false
    def flush(): Unit = if (needRet) { sb.append('\n'); needRet = false }
    def writeTab(): Unit = {
      flush()
      sb.append(" " * indent)
      needTab = false
    }
    def write(s: String): Unit = {
      flush()
      if (needTab) writeTab()
      sb.append(s)
    }
    def open(s: String = ""): Unit = { if (s.nonEmpty) write(s); indent += tab }
    def close(): Unit = indent -= tab
    def ret(): Unit = { needTab = true; needRet = true }
    def clearRet(): Unit = needRet = false
    def result: String = { flush(); sb.toString }
  }

  // ---- canonical (-C): zfmt/ast.go ------------------------------------------

  def canonical(q: String): String = {
    val p = new Parser(Lexer.lex(q), q, keepDecls = true, expand = false)
      .parseQuery()
    val c = new Canon2
    c.top(p)
    c.f.result
  }

  private def quotedName(n: String): String = graft.sources.ZType.fieldName(n)

  /** zfmt/ast.go canon ported to this AST. */
  private final class Canon2 {
    val f = new Fmt
    var head = true
    var first = true

    def top(p: Pipeline): Unit = {
      val (decls, body) = p.stages.partition {
        case _: Stage.ConstDecl | _: Stage.FuncDecl | _: Stage.OpDecl |
             _: Stage.TypeDecl => true
        case _ => false
      }
      decls.foreach { d => decl(d); f.ret() }
      f.flush()
      seq(Pipeline(body))
    }

    def next(): Unit = {
      if (first) first = false else f.write("\n")
      f.clearRet()
      f.writeTab()
      if (head) head = false else f.write("| ")
    }

    def decl(d: Stage): Unit = d match {
      case Stage.ConstDecl(n, e) =>
        f.write(s"const $n = "); expr(e, "")
      case Stage.FuncDecl(n, params, body) =>
        f.write(s"func $n(" + params.mkString(", "))
        f.open("): (")
        f.ret()
        expr(body, n)
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Stage.OpDecl(n, params, body) =>
        f.write(s"op $n(" + params.mkString(", "))
        f.open("): (")
        f.ret(); f.flush()
        head = true
        seq(body)
        f.close(); f.ret(); f.flush()
        f.write(")")
        head = true; first = true
      case Stage.TypeDecl(n, text) =>
        f.write(s"type ${quotedName(n)} = $text")
      case _ =>
    }

    def seq(p: Pipeline): Unit = p.stages.foreach(op)

    def op(s: Stage): Unit = s match {
      case Stage.Block(p) => seq(p)
      case Stage.OpCall(n, args) =>
        next()
        f.write(s"$n(")
        exprs(args)
        f.write(")")
      case Stage.Fork(paths) =>
        next()
        f.open("fork (")
        paths.foreach { p =>
          f.ret(); f.write("=>"); f.open()
          head = true
          seq(p)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Stage.Switch(subject, cases, default) =>
        next()
        f.write("switch ")
        subject.foreach { e => expr(e, ""); f.write(" ") }
        f.open("(")
        (cases.map(c => Some(c._1) -> c._2) ++
          default.map(d => (None: Option[Expr]) -> d)).foreach { case (ce, path) =>
          f.ret()
          ce match {
            case Some(e) => f.write("case "); expr(e, "")
            case None => f.write("default")
          }
          f.write(" =>")
          f.open()
          head = true
          seq(path)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Stage.FromTrunks(trunks) =>
        next()
        f.open("from (")
        trunks.foreach { case (src, pipe) =>
          f.ret()
          sourceText(src)
          pipe.foreach { p =>
            f.write(" =>")
            f.open()
            head = true
            seq(p)
            f.close()
          }
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Stage.From(t, fmt, kind, extras) =>
        next()
        val k = if (kind == "from") "from" else kind
        f.write(s"$k $t")
        fmt.foreach(x => f.write(s" format $x"))
        extras.foreach { case (k2, v) =>
          f.write(s" $k2 ")
          v match {
            // method/body values print as QUOTED NAMES (bare when ident)
            case Expr.StringLit(sv) if k2 != "headers" =>
              f.write(quotedName(sv))
            case Expr.Path(Seq(w)) if k2 != "headers" => f.write(w)
            case other => expr(other, "")
          }
        }
      case Stage.Summarize(aggs, keys) =>
        next()
        f.open("summarize")
        f.ret()
        f.open()
        var firstA = true
        aggs.foreach { case (n, AggCall(fn, arg, w, named)) =>
          if (!firstA) f.write(",")
          firstA = false
          if (named) f.write(s"$n:=")
          f.write(s"$fn(")
          arg.foreach(expr(_, ""))
          f.write(")")
          w.foreach { e => f.write(" where "); expr(e, "") }
        }
        if (keys.nonEmpty) {
          f.write(" by ")
          var firstK = true
          keys.foreach { case (n, e) =>
            if (!firstK) f.write(",")
            firstK = false
            if (n != Expr.inferName(e)) f.write(s"$n:=")
            expr(e, "")
          }
        }
        f.close(); f.close()
      case Stage.Cut(fs) =>
        next()
        f.write("cut ")
        var firstC = true
        fs.foreach { case (n, v) =>
          if (!firstC) f.write(",")
          firstC = false
          v match {
            case Some(e) => f.write(s"$n:="); expr(e, "")
            case None => f.write(n)
          }
        }
      case Stage.Drop(ps) =>
        next(); f.write("drop " + ps.mkString(","))
      case Stage.Sort(keys, nullsFirst) =>
        next()
        f.write("sort")
        if (nullsFirst) f.write(" -nulls first")
        var firstK = true
        keys.foreach { case (e, asc) =>
          if (!firstK) f.write(",")
          firstK = false
          f.write(" ")
          expr(e, "")
          if (!asc) f.write(" desc")
        }
      case Stage.Head(n, ex) =>
        next(); f.write(if (ex) s"head $n" else "head")
      case Stage.Tail(n, ex) =>
        next(); f.write(if (ex) s"tail $n" else "tail")
      case Stage.Uniq(c) =>
        next(); f.write(if (c) "uniq -c" else "uniq")
      case Stage.Pass => next(); f.write("pass")
      case Stage.Where(e) =>
        next()
        val which =
          if (isSearch(e)) "search "
          else if (isBool(e)) "where "
          else "where "
        f.open(which); expr(e, ""); f.close()
      case Stage.Put(as) =>
        next(); f.write("put ")
        var firstA = true
        as.foreach { case (n, e) =>
          if (!firstA) f.write(",")
          firstA = false
          f.write(s"$n:="); expr(e, "")
        }
      case Stage.Rename(rs) =>
        next(); f.write("rename " +
          rs.map { case (to, from) => s"$to:=$from" }.mkString(","))
      case Stage.Join(style, right, lk, rk, graft) =>
        next()
        if (style != "inner" && style != "") f.write(s"$style ")
        f.write("join ")
        right.foreach { rp =>
          f.open("(")
          head = true
          seq(rp)
          f.close(); f.ret(); f.flush()
          f.write(") ")
        }
        f.write("on ")
        expr(lk, "")
        f.write("=")
        expr(rk, "")
        if (graft.nonEmpty) {
          f.write(" ")
          var firstG = true
          graft.foreach { case (n, e) =>
            if (!firstG) f.write(",")
            firstG = false
            f.write(s"$n:="); expr(e, "")
          }
        }
      case Stage.Merge(keys) =>
        next(); f.write("merge ")
        keys.headOption.foreach { case (e, _) => expr(e, "") }
      case Stage.Combine => next(); f.write("combine")
      case Stage.Over(es, withVars, body) =>
        next()
        f.write("over ")
        exprs(es)
        if (withVars.nonEmpty) {
          f.write(" with ")
          var firstV = true
          withVars.foreach { case (n, e) =>
            if (!firstV) f.write(", ")
            firstV = false
            f.write(s"$n="); expr(e, "")
          }
        }
        body.foreach { bp =>
          f.write(" => (")
          f.open()
          head = true
          seq(bp)
          f.close(); f.ret(); f.flush()
          f.write(")")
        }
      case Stage.Yield(es) =>
        next()
        es match {
          // a lone agg call is the summarize shortcut (zfmt isAggFunc)
          case Seq(Expr.Call(fn, args)) if isAggName(fn) =>
            first = true // next() already advanced; rewind the separator
            summarizeShortcut(fn, args)
          case _ =>
            f.write("yield ")
            exprs(es)
        }
      case Stage.Output(n) => next(); f.write(s"output $n")
      case Stage.Debug(e) =>
        next(); f.write("debug")
        e.foreach { x => f.write(" "); expr(x, "") }
      case Stage.Fuse => next(); f.write("fuse")
      case Stage.Top(n, keys) =>
        next(); f.write(s"top limit=$n flush=false ")
        exprs(keys)
      case Stage.Load(t, author, msg) =>
        next(); f.write("load \"" + t + "\"")
        author.foreach(a => f.write(s" author $a"))
        msg.foreach(m => f.write(s" message $m"))
      case other =>
        throw new IllegalArgumentException(
          s"canonical form: unsupported ${other.getClass.getSimpleName}")
    }

    private def sourceText(src: Stage.From): Unit = {
      val k = if (src.kind == "from") "pool" else src.kind
      if (k == "pool") f.write(s"pool ${src.table}")
      else {
        f.write(s"$k ${src.table}")
        src.format.foreach(x => f.write(s" format $x"))
      }
    }

    private def summarizeShortcut(fn: String, args: Seq[Expr]): Unit = {
      next()
      f.open("summarize")
      f.ret(); f.open()
      f.write(s"$fn(")
      exprs(args)
      f.write(")")
      f.close(); f.close()
    }

    def exprs(es: Seq[Expr]): Unit = {
      var firstE = true
      es.foreach { e =>
        if (!firstE) f.write(", ")
        firstE = false
        expr(e, "")
      }
    }

    def expr(e: Expr, parent: String): Unit = e match {
      case Expr.IntLit(v) => f.write(v.toString)
      case Expr.FloatLit(v) =>
        f.write(if (v == Math.floor(v) && !v.isInfinite) s"${v.toLong}." else v.toString)
      case Expr.StringLit(v) =>
        f.write("\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      case Expr.BoolLit(v) => f.write(v.toString)
      case Expr.NullLit => f.write("null")
      case Expr.TimeLit(_, text) => f.write(text)
      case Expr.DurationLit(_, text) => f.write(text)
      case Expr.Path(parts) => fieldpath(parts)
      case Expr.Index(a, i) =>
        expr(a, ""); f.write("["); expr(i, ""); f.write("]")
      case Expr.Unary(op, x) => f.write(op); expr(x, "not")
      case Expr.Binary(op, l, r) => binary(op, l, r, parent)
      case Expr.Cond(c, t, el) =>
        f.write("("); expr(c, ""); f.write(") ? ")
        expr(t, ""); f.write(" : "); expr(el, "")
      case Expr.Call("__typeval", Seq(Expr.StringLit(t))) => f.write(s"<$t>")
      case Expr.Call("__typename", Seq(Expr.StringLit(t))) => f.write(s"<$t>")
      case Expr.Call("cast", Seq(arg, Expr.StringLit(t))) =>
        // the Cast node prints <type>(expr) in canonical form (ast.go Cast)
        f.write(s"<$t>(")
        expr(arg, "")
        f.write(")")
      case Expr.Call("__setlit", items) =>
        f.write("|[")
        var firstI = true
        items.foreach { x =>
          if (!firstI) f.write(",")
          firstI = false
          expr(x, "")
        }
        f.write("]|")
      case Expr.Call("__maplit", kvs) =>
        f.write("|{")
        kvs.grouped(2).zipWithIndex.foreach { case (kv, ix) =>
          if (ix != 0) f.write(",")
          expr(kv(0), ""); f.write(":"); expr(kv(1), "")
        }
        f.write("}|")
      case Expr.Call("__impliedsearch", Seq(inner)) => expr(inner, parent)
      case Expr.Call("__search", Seq(Expr.StringLit(t))) => f.write(t)
      case Expr.Call("__glob", Seq(Expr.StringLit(t))) => f.write(t)
      case Expr.Call("__regex", Seq(Expr.StringLit(t))) => f.write(s"/$t/")
      case Expr.Call("grep", args) =>
        f.write("grep(")
        var firstA = true
        args.foreach { a =>
          if (!firstA) f.write(",")
          firstA = false
          expr(a, "")
        }
        f.write(")")
      case Expr.Call(fn, args) =>
        f.write(s"$fn(")
        exprs(args)
        f.write(")")
      case Expr.RecordLit(fs) =>
        f.write("{")
        var firstF = true
        fs.foreach { case (n, x) =>
          if (!firstF) f.write(",")
          firstF = false
          x match {
            case _ if n == "..." =>
              f.write("..."); expr(x, "")
            case Expr.Path(parts) if parts.lastOption.contains(n) && parts.length == 1 =>
              f.write(quotedName(n))
            case Expr.Call("__spread", Seq(inner)) =>
              f.write("..."); expr(inner, "")
            case _ =>
              f.write(quotedName(n) + ":"); expr(x, "")
          }
        }
        f.write("}")
      case Expr.ArrayLit(xs) =>
        f.write("[")
        var firstX = true
        xs.foreach { x =>
          if (!firstX) f.write(",")
          firstX = false
          expr(x, "")
        }
        f.write("]")
      case Expr.SubQuery(p) =>
        // zfmt OverExpr: "(", newline, "over …", then the body ops
        f.open("(")
        f.ret()
        p.stages.headOption match {
          case Some(Stage.Over(es, wv, None)) =>
            f.write("over ")
            exprs(es)
            if (wv.nonEmpty) {
              f.write(" with ")
              var firstV = true
              wv.foreach { case (vn, ve) =>
                if (!firstV) f.write(", ")
                firstV = false
                f.write(s"$vn="); expr(ve, "")
              }
            }
            val savedHead = head
            head = false
            seq(Pipeline(p.stages.tail))
            head = savedHead
          case _ =>
            head = true
            seq(p)
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Expr.FString(elems) =>
        f.write("f\"")
        elems.foreach {
          case Left(text) => f.write(text)
          case Right(x) => f.write("{"); expr(x, ""); f.write("}")
        }
        f.write("\"")
      case Expr.RecCall(n, _, args) =>
        f.write(s"$n(")
        exprs(args)
        f.write(")")
    }

    private def binary(op: String, l: Expr, r: Expr, parent: String): Unit = op match {
      case "." =>
        l match {
          case Expr.Path(Seq()) =>
          case _ => expr(l, ""); f.write(".")
        }
        expr(r, "")
      case "and" | "or" | "in" =>
        val parens = needsParens(parent, op)
        if (parens) f.write("(")
        expr(l, op); f.write(s" $op "); expr(r, op)
        if (parens) f.write(")")
      case _ =>
        val parens = needsParens(parent, op)
        if (parens) f.write("(")
        expr(l, op); f.write(op); expr(r, op)
        if (parens) f.write(")")
    }

    def fieldpath(parts: Seq[String]): Unit =
      if (parts.isEmpty) f.write("this")
      else parts.zipWithIndex.foreach { case (s, k) =>
        if (identLike(s)) {
          if (k != 0) f.write(".")
          f.write(s)
        } else {
          if (k == 0) f.write(".")
          f.write("[\"" + s + "\"]")
        }
      }
  }

  private def identLike(s: String): Boolean =
    s.nonEmpty && (s.head.isLetter || s.head == '_') &&
      s.forall(c => c.isLetterOrDigit || c == '_')

  private def needsParens(parent: String, op: String): Boolean =
    precedence(parent) - precedence(op) < 0

  private def precedence(op: String): Int = op match {
    case "not" => 1
    case "^" => 2
    case "*" | "/" | "%" => 3
    case "+" | "-" => 4
    case "<" | "<=" | ">" | ">=" | "==" | "!=" | "in" => 5
    case "and" => 6
    case "or" => 7
    case _ => 100
  }

  private val aggNames = Set(
    "count", "sum", "avg", "min", "max", "any", "dcount", "count_distinct",
    "countdistinct", "collect", "union", "and", "or", "collect_map", "fuse")
  private def isAggName(fn: String): Boolean = aggNames(fn)

  /** zfmt/ast.go IsSearch over this AST. */
  private def isSearch(e: Expr): Boolean = e match {
    case Expr.Call("__impliedsearch", _) => true
    case Expr.Call("__search" | "__glob" | "__regex", _) => true
    case Expr.Path(Seq(_)) => true
    case Expr.Binary(("and" | "or"), l, r) => isSearch(l) || isSearch(r)
    case Expr.Unary(_, x) => isSearch(x)
    case _ => false
  }

  // ---- semantic DAG (-s / -O / -P): zfmt/dag.go + compiler/semantic ---------

  /** Lowered DAG ops (the slice of dag.Op these tests exercise). */
  private sealed trait DOp
  private case class DReader(filter: Option[Expr]) extends DOp
  private case class DFile(path: String, format: Option[String],
      filter: Option[Expr]) extends DOp
  private case class DGet(url: String) extends DOp
  private case class DPool(id: String, key: String = "ts",
      order: String = "asc") extends DOp
  private case class DLister(pool: String, commit: String,
      pruner: Option[Expr]) extends DOp
  private case object DSlicer extends DOp
  private case class DSeqScan(pool: String, pruner: Option[Expr],
      filter: Option[Expr]) extends DOp
  private case class DFilter(e: Expr) extends DOp
  private case class DYield(es: Seq[Expr]) extends DOp
  private case class DPut(as: Seq[(String, Expr)]) extends DOp
  private case class DRename(rs: Seq[(String, String)]) extends DOp
  private case class DCut(as: Seq[(String, Expr)]) extends DOp
  private case class DDrop(ps: Seq[String]) extends DOp
  private case class DHead(n: Int) extends DOp
  private case class DTail(n: Int) extends DOp
  private case class DUniq(c: Boolean) extends DOp
  private case class DSort(keys: Seq[(Expr, Boolean)], rev: Boolean) extends DOp
  private case class DSummarize(aggs: Seq[(String, AggCall)],
      keys: Seq[(String, Expr)], partialsIn: Boolean = false,
      partialsOut: Boolean = false, sortDir: Int = 0) extends DOp
  private case class DFork(paths: Seq[Vector[DOp]]) extends DOp
  private case class DScatter(paths: Seq[Vector[DOp]]) extends DOp
  private case class DMirror(mirror: Vector[DOp], main: Vector[DOp]) extends DOp
  private case class DSwitch(subject: Option[Expr],
      cases: Seq[(Option[Expr], Vector[DOp])]) extends DOp
  private case class DJoin(lk: Expr, rk: Expr, as: Seq[(String, Expr)]) extends DOp
  private case class DMerge(key: Expr, order: String) extends DOp
  private case object DCombine extends DOp
  private case class DOver(es: Seq[Expr], withVars: Seq[(String, Expr)],
      body: Option[Vector[DOp]]) extends DOp
  private case class DOutput(name: String) extends DOp
  private case object DPass extends DOp
  private case object DFuse extends DOp
  private case class DTop(n: Int, keys: Seq[Expr]) extends DOp

  /** `dev compile -s [-O] [-P n]`: lower the expanded AST the way the
    * reference's semantic pass does and print the DAG form.
    */
  def semantic(spark: org.apache.spark.sql.SparkSession, q: String,
      opt: Boolean, par: Int, lakeRootOpt: Option[String]): String = {
    val p0 = new Parser(Lexer.lex(q), q, keepDecls = true, expand = true,
      expandFuncs = false).parseQuery()
    val (declsRaw, bodyRaw) = p0.stages.partition {
      case _: Stage.ConstDecl | _: Stage.FuncDecl | _: Stage.OpDecl |
           _: Stage.TypeDecl => true
      case _ => false
    }
    val consts = declsRaw.collect { case d: Stage.ConstDecl => d }
    val funcs = declsRaw.collect { case d: Stage.FuncDecl => d }
    val sem = new Sem(q, lakeRootOpt)
    var ops = sem.lowerSeq(splice(bodyRaw))
    // entry: an explicit source op or the implicit reader
    if (!ops.headOption.exists(isSource)) ops = DReader(None) +: ops
    ops = distributeOutput(ops)
    if (opt) ops = optimize(ops)
    if (par > 1) ops = parallelize(ops, par, sem)
    val d = new Dag(sem)
    if (consts.nonEmpty || funcs.nonEmpty) {
      // the IMPLICIT reader attaches above the scope; explicit sources
      // stay inside it (semantic builds Scope{body} under the DefaultScan)
      var body = ops
      ops.headOption match {
        case Some(r @ DReader(None)) =>
          d.op(r)
          body = ops.tail
        case _ =>
      }
      d.next()
      d.f.open("(")
      d.f.ret(); d.f.flush()
      var firstDecl = true
      consts.foreach { c =>
        if (!firstDecl) { d.f.ret(); d.f.flush() }
        firstDecl = false
        d.f.write(s"const ${c.name} = ")
        d.expr(c.e, "")
      }
      funcs.foreach { fn =>
        if (!firstDecl) { d.f.ret(); d.f.flush() }
        firstDecl = false
        d.f.write(s"func ${fn.name}(" + fn.params.mkString(", "))
        d.f.open("): (")
        d.f.ret()
        d.expr(fn.body, fn.name)
        d.f.close(); d.f.ret(); d.f.flush()
        d.f.write(")")
      }
      d.f.ret() // the blank separator line: pending ret + the op's newline
      d.head = true
      d.seq(body)
      d.f.close(); d.f.ret(); d.f.flush()
      d.f.write(")")
    } else d.seq(ops)
    d.f.result
  }

  private def splice(stages: Seq[Stage]): Seq[Stage] = stages.flatMap {
    case Stage.Block(inner) => splice(inner.stages)
    case s => Seq(s)
  }

  private def isSource(op: DOp): Boolean = op match {
    case _: DReader | _: DFile | _: DGet | _: DPool | _: DLister => true
    case DFork(paths) => paths.forall(_.headOption.exists(isSource))
    case _ => false
  }

  /** Terminal paths sink at `output main` (semantic/op.go mux wiring). */
  private def distributeOutput(ops: Vector[DOp]): Vector[DOp] =
    ops.lastOption match {
      case Some(DOutput(_)) => ops
      case Some(DFork(paths)) =>
        ops.init :+ DFork(paths.map(distributeOutput))
      case Some(DSwitch(subj, cases)) =>
        ops.init :+ DSwitch(subj, cases.map { case (e, p) => e -> distributeOutput(p) })
      case Some(DMirror(m, main)) =>
        ops.init :+ DMirror(distributeOutput(m), distributeOutput(main))
      case _ => ops :+ DOutput("main")
    }

  /** Stage→DAG lowering (compiler/semantic, the slice these tests use). */
  private final class Sem(source: String, lakeRoot: Option[String]) {

    def lowerSeq(stages: Seq[Stage]): Vector[DOp] = {
      val ix = stages.indexWhere(_.isInstanceOf[Stage.Debug])
      if (ix >= 0) {
        val Stage.Debug(e) = stages(ix): @unchecked
        val text = e.getOrElse(Expr.Path(Seq.empty))
        lowerSeq(stages.take(ix)) :+ DMirror(
          Vector(DYield(Seq(searchify(text))), DOutput("debug")),
          lowerSeq(stages.drop(ix + 1)))
      } else stages.iterator.flatMap(lower).toVector
    }

    def lower(s: Stage): Seq[DOp] = s match {
      case Stage.From(t, fmt, kind, _) => Seq(lowerSource(t, fmt, kind))
      case Stage.Where(Expr.Call("__impliedsearch", Seq(e))) =>
        Seq(DFilter(termify(e)))
      case Stage.Where(e) => Seq(DFilter(searchify(e)))
      case Stage.Yield(es) => Seq(DYield(es.map(searchify)))
      case Stage.Put(as) => Seq(DPut(as.map { case (n, e) => n -> searchify(e) }))
      case Stage.Rename(rs) => Seq(DRename(rs))
      case Stage.Cut(fs) => Seq(DCut(fs.map {
        case (n, Some(e)) => n -> searchify(e)
        case (n, None) => n -> Expr.Path(n.split("\\.").toSeq)
      }))
      case Stage.Drop(ps) => Seq(DDrop(ps))
      case Stage.Head(n, _) => Seq(DHead(n))
      case Stage.Tail(n, _) => Seq(DTail(n))
      case Stage.Uniq(c) => Seq(DUniq(c))
      case Stage.Sort(keys, _) =>
        // `sort -r x` parses to descending keys; the DAG prints -r + asc
        val rev = keys.nonEmpty && keys.forall(!_._2)
        Seq(DSort(keys.map { case (e, asc) =>
          searchify(e) -> (if (rev) true else asc) }, rev))
      case Stage.Summarize(aggs, keys) =>
        val low = DSummarize(
          aggs.map { case (n, a) =>
            n -> a.copy(arg = a.arg.map(searchify), where = a.where.map(searchify)) },
          keys.map { case (n, e) => n -> searchify(e) })
        // the DAG prints the singleton-agg unwrap as an explicit yield
        if (aggs.length == 1 && keys.isEmpty && !aggs.head._2.named)
          Seq(low, DYield(Seq(Expr.Path(Seq(aggs.head._1)))))
        else Seq(low)
      case Stage.Fork(paths) =>
        Seq(DFork(paths.map(p => lowerSeq(splice(p.stages)))))
      case Stage.Switch(subject, cases, default) =>
        Seq(DSwitch(subject.map(searchify),
          cases.map { case (e, p) => (Some(searchify(e)): Option[Expr]) -> lowerSeq(splice(p.stages)) } ++
            default.map(p => (None: Option[Expr]) -> lowerSeq(splice(p.stages)))))
      case Stage.Join(_, right, lk, rk, graft) =>
        // join sugar with an inline right side lowers to fork(pass, right)
        right.toSeq.map(rp =>
          DFork(Seq(Vector(DPass), lowerSeq(splice(rp.stages))))) :+
          DJoin(searchify(lk), searchify(rk),
            graft.map { case (n, e) => n -> searchify(e) })
      case Stage.Merge(keys) =>
        keys.headOption.map { case (e, asc) =>
          DMerge(searchify(e), if (asc) "asc" else "desc") }.toSeq
      case Stage.Combine => Seq(DCombine)
      case Stage.Over(es, withVars, body) =>
        Seq(DOver(es.map(searchify),
          withVars.map { case (n, e) => n -> searchify(e) },
          body.map(p => lowerSeq(splice(p.stages)))))
      case Stage.Output(n) => Seq(DOutput(n))
      case Stage.Pass => Seq(DPass)
      case Stage.Fuse => Seq(DFuse)
      case Stage.Top(n, keys) => Seq(DTop(n, keys.map(searchify)))
      case Stage.Block(p) => lowerSeq(splice(p.stages))
      case other =>
        throw new IllegalArgumentException(
          s"semantic form: unsupported ${other.getClass.getSimpleName}")
    }

    private def poolNotFound(name: String, what: String,
        spanText: String = ""): Nothing = {
      val span = if (spanText.nonEmpty) spanText else name
      val ix = source.indexOf(span)
      val (lineNo, colNo, lineText) =
        if (ix < 0) (1, 1, source.linesIterator.toSeq.headOption.getOrElse(source))
        else {
          val upTo = source.take(ix)
          val ln = upTo.count(_ == '\n') + 1
          val col = ix - (upTo.lastIndexOf('\n') + 1) + 1
          (ln, col, source.linesWithSeparators.toSeq.lift(ln - 1)
            .getOrElse(source).stripLineEnd)
        }
      throw new CompileDiag(
        s"$name: $what at line $lineNo, column $colNo:\n" +
          lineText + "\n" + (" " * (colNo - 1)) + ("~" * span.length))
    }

    def lowerSource(t: String, fmt: Option[String], kind: String): DOp =
      kind match {
        case "file" => DFile(t, fmt, None)
        case "get" => DGet(t)
        case _ if t.startsWith("http://") || t.startsWith("https://") => DGet(t)
        case _ =>
          // `from <name>`: a pool in the lake (or an error); `file` is
          // explicit in this grammar position
          lakeRoot match {
            case None =>
              val ix = math.max(0, source.indexOf("from"))
              val upTo = source.take(ix)
              val lineNo = upTo.count(_ == '\n') + 1
              val colNo = ix - (upTo.lastIndexOf('\n') + 1) + 1
              val lineText = source.linesWithSeparators.toSeq.lift(lineNo - 1)
                .getOrElse(source).stripLineEnd
              val span = math.min(lineText.length - (colNo - 1),
                ("from " + t).length)
              throw new CompileDiag(
                s""""from pool" cannot be used without a lake at line $lineNo, column $colNo:""" +
                  "\n" + lineText + "\n" + (" " * (colNo - 1)) + ("~" * span))
            case Some(root) =>
              if (t.exists("*?".contains(_))) {
                val re = java.util.regex.Pattern.compile(
                  t.replace(".", "\\.").replace("*", ".*").replace("?", "."))
                val names = poolNames(root).filter(n => re.matcher(n).matches())
                if (names.isEmpty) poolNotFound(t, "pool matching glob not found")
                DPool(graft.sources.Lake.poolId(root, names.head),
                  graft.sources.Lake.poolKey(root, names.head).getOrElse("ts"),
                  graft.sources.Lake.poolOrder(root, names.head))
              } else if (t.startsWith("/") && t.endsWith("/") && t.length > 1) {
                val re = java.util.regex.Pattern.compile(t.drop(1).dropRight(1))
                val names = poolNames(root).filter(n => re.matcher(n).find())
                if (names.isEmpty)
                  poolNotFound(t.drop(1).dropRight(1),
                    "pool matching regexp not found", spanText = t)
                DPool(graft.sources.Lake.poolId(root, names.head),
                  graft.sources.Lake.poolKey(root, names.head).getOrElse("ts"),
                  graft.sources.Lake.poolOrder(root, names.head))
              } else if (graft.sources.Lake.exists(root, t))
                DPool(graft.sources.Lake.poolId(root, t),
                  graft.sources.Lake.poolKey(root, t).getOrElse("ts"),
                  graft.sources.Lake.poolOrder(root, t))
              else poolNotFound(t, "pool not found")
          }
      }

    private def poolNames(root: String): Seq[String] = {
      val d = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.isDirectory(d)) return Seq.empty
      val it = java.nio.file.Files.list(d).iterator()
      val b = Vector.newBuilder[String]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isDirectory(p) &&
            graft.sources.Lake.exists(root, p.getFileName.toString))
          b += p.getFileName.toString
      }
      b.result().sorted
    }

    /** Rewrite search sugar to the DAG's call forms (semantic/expr.go):
      * bare terms/globs → search("…"), grep(lit) → search, <type>(x) →
      * cast(x, <type>), f-string concat stays as + with casts.
      */
    def searchify(e: Expr): Expr = e match {
      case Expr.Call("__impliedsearch", Seq(inner)) => termify(inner)
      case Expr.Call("__search", Seq(Expr.StringLit(t))) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit(quoteTerm(t))))
      case Expr.Call("__glob", Seq(Expr.StringLit(t))) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit(quoteTerm(t))))
      case Expr.Call("grep", Seq(Expr.StringLit(t))) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit(quoteTerm(t))))
      case Expr.Call("cast", Seq(x, Expr.StringLit(t))) =>
        Expr.Call("cast", Seq(searchify(x),
          Expr.Call("__typeval", Seq(Expr.StringLit(t)))))
      case Expr.Unary(op, x) => Expr.Unary(op, searchify(x))
      case Expr.Binary(op, l, r) => Expr.Binary(op, searchify(l), searchify(r))
      case Expr.Cond(c, t, f2) => Expr.Cond(searchify(c), searchify(t), searchify(f2))
      case Expr.Call(fn, args) => Expr.Call(fn, args.map(searchify))
      case Expr.RecordLit(fs) => Expr.RecordLit(fs.map { case (n, x) => n -> searchify(x) })
      case Expr.ArrayLit(xs) => Expr.ArrayLit(xs.map(searchify))
      case Expr.Index(a, i) => Expr.Index(searchify(a), searchify(i))
      case other => other
    }

    /** Bare and/or operands in a filter are SEARCH TERMS — the DAG form
      * is search("…") / search(80) (semantic/expr.go Term lowering).
      */
    def termify(e: Expr): Expr = e match {
      case Expr.Binary(op @ ("and" | "or"), l, r) =>
        Expr.Binary(op, termify(l), termify(r))
      case Expr.Unary(op @ ("not" | "!"), x) => Expr.Unary(op, termify(x))
      case Expr.Path(Seq(w)) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit("\"" + w + "\"")))
      case Expr.IntLit(v) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit(v.toString)))
      case Expr.FloatLit(v) =>
        Expr.Call("__dagsearch", Seq(Expr.StringLit(
          if (v == Math.floor(v) && !v.isInfinite) s"${v.toLong}." else v.toString)))
      case other => searchify(other)
    }

    private def quoteTerm(t: String): String =
      if (t.nonEmpty && (t.forall(_.isDigit) ||
          t.matches("-?\\d+(\\.\\d+)?"))) t
      else "\"" + t + "\""
  }

  /** -O: merge adjacent filters, drop pass, push filters into sources
    * (compiler/optimizer). */
  private def optimize(ops: Vector[DOp]): Vector[DOp] = {
    def mergeFilters(v: Vector[DOp]): Vector[DOp] =
      v.foldLeft(Vector.empty[DOp]) {
        case (acc :+ DFilter(a), DFilter(b)) =>
          acc :+ DFilter(Expr.Binary("and", a, b))
        case (acc, DPass) => acc
        case (acc, DFork(ps)) => acc :+ DFork(ps.map(mergeFilters))
        case (acc, DSwitch(s, cs)) =>
          acc :+ DSwitch(s, cs.map { case (e, p) => e -> mergeFilters(p) })
        case (acc, DOver(es, wv, body)) =>
          acc :+ DOver(es, wv, body.map(mergeFilters))
        case (acc, o) => acc :+ o
      }
    // push a filter directly after a source INTO the source
    def push(v: Vector[DOp]): Vector[DOp] = v match {
      case DReader(None) +: DFilter(e) +: rest => DReader(Some(e)) +: push(rest)
      case DFile(p, fm, None) +: DFilter(e) +: rest => DFile(p, fm, Some(e)) +: push(rest)
      case (f @ DFork(paths)) +: rest =>
        // a filter FOLLOWING the fork pushes into every leg first
        val (legFilter, rest2) = rest match {
          case DFilter(e) +: tl => (Some(e), tl)
          case _ => (None, rest)
        }
        val paths2 = paths.map { p =>
          val withF = legFilter match {
            case Some(e) =>
              // insert before output
              val (body, outs) = p.span(!_.isInstanceOf[DOutput])
              mergeFilters(body :+ DFilter(e)) ++ outs
            case None => p
          }
          push(mergeFilters(withF))
        }
        DFork(paths2) +: push(rest2)
      case (o @ DOver(es, wv, Some(body))) +: rest =>
        DOver(es, wv, Some(push(mergeFilters(body)))) +: push(rest)
      case DPool(id, poolKey, _) +: rest =>
        // pool scans expand to lister | slicer | seqscan, filters push in
        val (filt, rest2) = rest match {
          case DFilter(e) +: tl => (Some(e), tl)
          case _ => (None, rest)
        }
        // a summarize keyed by the pool key runs input-sorted (sort-dir 1)
        val rest3 = rest2 match {
          case (sm @ DSummarize(_, keys, _, _, 0)) +: tl
              if keys.exists { case (kn, ke) => kn == "ts" || (ke match {
                case Expr.Call("every", _) => true
                case Expr.Path(Seq("ts")) => true
                case _ => false
              })} =>
            sm.copy(sortDir = 1) +: tl
          case other => other
        }
        val pruner = filt.flatMap(prunerOf(_, poolKey))
        Vector(DLister(id, "", pruner), DSlicer,
          DSeqScan(id, pruner, filt)) ++ push(rest3)
      case op +: rest => op +: push(rest)
      case _ => v
    }
    push(mergeFilters(ops))
  }

  /** Key-range terms over the pool key derive the metadata PRUNER
    * (compiler/optimizer: compare(bound, max/min, true) over the
    * object's key range — objects wholly outside the range are skipped).
    */
  private def prunerOf(filter: Expr, key: String): Option[Expr] = {
    def terms(e: Expr): Seq[Expr] = e match {
      case Expr.Binary("and", l, r) => terms(l) ++ terms(r)
      case other => Seq(other)
    }
    val conds = terms(filter).flatMap {
      case Expr.Binary(">=", Expr.Path(Seq(k)), bound) if k == key =>
        Some(Expr.Binary(">", Expr.Call("compare",
          Seq(bound, Expr.Path(Seq("max")), Expr.BoolLit(true))), Expr.IntLit(0)))
      case Expr.Binary("<=", Expr.Path(Seq(k)), bound) if k == key =>
        Some(Expr.Binary("<", Expr.Call("compare",
          Seq(bound, Expr.Path(Seq("min")), Expr.BoolLit(true))), Expr.IntLit(0)))
      case Expr.Binary(">", Expr.Path(Seq(k)), bound) if k == key =>
        Some(Expr.Binary(">=", Expr.Call("compare",
          Seq(bound, Expr.Path(Seq("max")), Expr.BoolLit(true))), Expr.IntLit(0)))
      case Expr.Binary("<", Expr.Path(Seq(k)), bound) if k == key =>
        Some(Expr.Binary("<=", Expr.Call("compare",
          Seq(bound, Expr.Path(Seq("min")), Expr.BoolLit(true))), Expr.IntLit(0)))
      case _ => None
    }
    conds.reduceOption((a, b) => Expr.Binary("or", a, b))
  }

  /** -P n: the reference parallelizer (compiler/optimizer/parallelize.go)
    * over pool scans — implemented for the op classes its ztests pin.
    */
  private def parallelize(ops: Vector[DOp], n: Int, sem: Sem): Vector[DOp] = {
    // recurse into fork legs first (a join's right input is its own scan)
    val rec: Vector[DOp] = ops.map {
      case DFork(paths) => DFork(paths.map(p => parallelize(p, n, sem)))
      case DSwitch(subj, cases) =>
        DSwitch(subj, cases.map { case (e, p) => e -> parallelize(p, n, sem) })
      case other => other
    }
    // only pool sources parallelize in these tests
    rec match {
      case DPool(id, poolKey0, poolOrder) +: rest0 =>
        val (rest, outs) = rest0.span(!_.isInstanceOf[DOutput])
        // splittable prefix: ops that can run per-branch
        val branchable = rest.takeWhile {
          case _: DCut | _: DPut | _: DRename | _: DDrop | _: DFilter => true
          case _ => false
        }
        val after = rest.drop(branchable.length)
        // track the pool key through the branch ops (cut x:=ts moves the
        // key into x; rename follows; clobbering loses the order)
        var curKey: Option[String] = Some(poolKey0)
        branchable.foreach {
          case DCut(as) => curKey = curKey.flatMap { k =>
            as.collectFirst { case (f2, Expr.Path(Seq(`k`))) => f2 }
              .orElse(if (as.exists(_._1 == k)) None else Some(k))
          }
          case DPut(as) => curKey = curKey.flatMap { k =>
            as.collectFirst { case (f2, Expr.Path(Seq(`k`))) => f2 }
              .orElse(if (as.exists(_._1 == k)) None else Some(k))
          }
          case DRename(rs) => curKey = curKey.map { k =>
            rs.collectFirst { case (to, `k`) => to }.getOrElse(k) }
          case DDrop(ps) => curKey = curKey.filterNot(ps.contains)
          case _ =>
        }
        val mergeKey = curKey.getOrElse(poolKey0)
        // decide the branch tail + downstream by the next op
        var branchTail = Vector.empty[DOp]
        var downstream = Vector.empty[DOp]
        var ordered = true // merge by pool key vs combine
        after.headOption match {
          case Some(DSummarize(aggs, keys, _, _, _)) =>
            val keyed = keys.exists { case (kn, ke) =>
              kn == poolKey0 || (ke match {
                case Expr.Call("every", _) => true
                case Expr.Path(Seq(k2)) => k2 == poolKey0
                case _ => false
              })
            }
            val dir = if (keyed) 1 else 0
            ordered = keyed
            branchTail = Vector(DSummarize(aggs, keys, partialsOut = true, sortDir = dir))
            // partials-in keys reference the OUT keys by their names
            val inKeys = keys.map { case (kn, _) =>
              kn -> (Expr.Path(Seq(kn)): Expr) }
            downstream = Vector(DSummarize(aggs, inKeys, partialsIn = true, sortDir = dir)) ++
              after.tail
            // lone unnamed agg already has its yield in `after.tail`
          case Some(DSort(keys, rev)) if keys.nonEmpty =>
            ordered = false
            branchTail = Vector(DSort(keys, rev))
            downstream = DMerge(keys.head._1,
              if (keys.head._2) "asc" else "desc") +: after.tail
          case Some(DSort(keys, rev)) =>
            ordered = false
            branchTail = Vector.empty
            downstream = DCombine +: after
          case Some(DTail(k)) =>
            branchTail = Vector(DTail(k))
            downstream = after
          case _ =>
            downstream = after
        }
        // leading filters push into the seqscan (the -P pass runs after
        // the optimizer's pushdown)
        val leadF = branchable.takeWhile(_.isInstanceOf[DFilter])
          .collect { case DFilter(e) => e }
        val branchable2 = branchable.dropWhile(_.isInstanceOf[DFilter])
        val scanFilter = leadF.reduceOption(Expr.Binary("and", _, _))
        val branch = Vector(DSeqScan(id, None, scanFilter)) ++ branchable2 ++ branchTail
        val scatter = DScatter(Vector.fill(n)(branch))
        val headOps: Vector[DOp] =
          if (ordered && !downstream.headOption.exists(_ == DCombine) &&
              !downstream.headOption.exists(_.isInstanceOf[DMerge]))
            Vector(DLister(id, "", None), DSlicer, scatter,
              DMerge(Expr.Path(Seq(mergeKey)), poolOrder))
          else if (downstream.headOption.exists(_.isInstanceOf[DMerge]))
            Vector(DLister(id, "", None), scatter)
          else
            Vector(DLister(id, "", None), scatter, DCombine)
        val down2 =
          if (downstream.headOption.contains(DCombine)) downstream.tail
          else downstream
        headOps ++ down2 ++ outs
      case _ => ops
    }
  }

  /** zfmt/dag.go canonDAG ported to the DOp IR. */
  private final class Dag(sem: Sem) {
    val f = new Fmt
    var head = true
    var first = true

    def next(): Unit = {
      if (first) first = false else f.write("\n")
      f.clearRet()
      f.writeTab()
      if (head) head = false else f.write("| ")
    }

    def seq(ops: Seq[DOp]): Unit = ops.foreach(op)

    def op(o: DOp): Unit = o match {
      case DReader(filt) =>
        next(); f.write("reader")
        filt.foreach { e => f.write(" filter ("); expr(e, ""); f.write(")") }
      case DFile(p, fm, filt) =>
        next(); f.write(s"file $p")
        fm.foreach(x => f.write(s" format $x"))
        filt.foreach { e => f.write(" filter ("); expr(e, ""); f.write(")") }
      case DGet(url) => next(); f.write(s"get $url")
      case DPool(id, _, _) => next(); f.write(s"pool $id")
      case DLister(pool, _, pruner) =>
        next(); f.open("lister")
        f.write(s" pool $pool commit main")
        pruner.foreach { e => f.write(" pruner ("); expr(e, ""); f.write(")") }
        f.close()
      case DSlicer => next(); f.open("slicer"); f.close()
      case DSeqScan(pool, pruner, filt) =>
        next(); f.open("seqscan")
        f.write(s" pool $pool")
        pruner.foreach { e => f.write(" pruner ("); expr(e, ""); f.write(")") }
        filt.foreach { e => f.write(" filter ("); expr(e, ""); f.write(")") }
        f.close()
      case DFilter(e) =>
        next(); f.open("where "); expr(e, ""); f.close()
      case DYield(es) =>
        next(); f.write("yield "); exprs(es)
      case DPut(as) =>
        next(); f.write("put "); assigns(as)
      case DRename(rs) =>
        next(); f.write("rename " +
          rs.map { case (to, from) => s"$to:=$from" }.mkString(","))
      case DCut(as) =>
        next(); f.write("cut "); assigns(as)
      case DDrop(ps) =>
        next(); f.write("drop " + ps.mkString(","))
      case DHead(n) => next(); f.write(s"head $n")
      case DTail(n) => next(); f.write(s"tail $n")
      case DUniq(c) => next(); f.write(if (c) "uniq -c" else "uniq")
      case DSort(keys, rev) =>
        next(); f.write("sort")
        if (rev) f.write(" -r")
        var firstK = true
        keys.foreach { case (e, asc) =>
          if (!firstK) f.write(",")
          firstK = false
          f.write(" ")
          expr(e, "")
          f.write(if (asc) " asc" else " desc")
        }
      case DSummarize(aggs, keys, pIn, pOut, dir) =>
        next()
        f.open("summarize")
        if (pIn) f.write(" partials-in")
        if (pOut) f.write(" partials-out")
        if (dir != 0) f.write(s" sort-dir $dir")
        f.ret(); f.open()
        var firstA = true
        aggs.foreach { case (n, AggCall(fn, arg, w, _)) =>
          if (!firstA) f.write(",")
          firstA = false
          f.write(s"$n:=$fn(")
          arg.foreach(expr(_, ""))
          f.write(")")
          w.foreach { e => f.write(" where "); expr(e, "") }
        }
        if (keys.nonEmpty) {
          f.write(" by ")
          var firstK = true
          keys.foreach { case (n, e) =>
            if (!firstK) f.write(",")
            firstK = false
            f.write(s"$n:="); expr(e, "")
          }
        }
        f.close(); f.close()
      case DFork(paths) =>
        next()
        f.open("fork (")
        paths.foreach { p =>
          f.ret(); f.write("=>"); f.open()
          head = true
          seq(p)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case DScatter(paths) =>
        next()
        f.open("scatter (")
        paths.foreach { p =>
          f.ret(); f.write("=>"); f.open()
          head = true
          seq(p)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case DMirror(m, main) =>
        next()
        f.open("mirror (")
        f.ret()
        Seq(m, main).foreach { p =>
          f.ret(); f.write("=>"); f.open()
          head = true
          seq(p)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case DSwitch(subject, cases) =>
        next()
        f.open("switch ")
        subject.foreach { e => expr(e, ""); f.write(" ") }
        f.open("(")
        cases.foreach { case (ce, path) =>
          f.ret()
          ce match {
            case Some(e) => f.write("case "); expr(e, "")
            case None => f.write("case true")
          }
          f.write(" =>")
          f.open()
          head = true
          seq(path)
          f.close()
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
        f.close()
      case DJoin(lk, rk, as) =>
        next()
        f.open("join on ")
        expr(lk, ""); f.write("="); expr(rk, "")
        if (as.nonEmpty) { f.write(" "); assigns(as) }
        f.close()
      case DMerge(e, ord) =>
        next(); f.write("merge ")
        expr(e, "")
        f.write(":" + ord)
      case DCombine => next(); f.write("combine")
      case DOver(es, wv, body) =>
        next()
        f.write("over ")
        exprs(es)
        if (wv.nonEmpty) {
          f.write(" with ")
          var firstV = true
          wv.foreach { case (vn, ve) =>
            if (!firstV) f.write(", ")
            firstV = false
            f.write(s"$vn="); expr(ve, "")
          }
        }
        body.foreach { bp =>
          f.write(" => (")
          f.open()
          head = true
          seq(bp)
          f.close(); f.ret(); f.flush()
          f.write(")")
        }
      case DOutput(n) => next(); f.write(s"output $n")
      case DPass => next(); f.write("pass")
      case DFuse => next(); f.write("fuse")
      case DTop(n, keys) =>
        next(); f.write(s"top limit=$n flush=false ")
        exprs(keys)
    }

    private def assigns(as: Seq[(String, Expr)]): Unit = {
      var firstA = true
      as.foreach { case (n, e) =>
        if (!firstA) f.write(",")
        firstA = false
        f.write(s"$n:="); expr(e, "")
      }
    }

    def exprs(es: Seq[Expr]): Unit = {
      var firstE = true
      es.foreach { e =>
        if (!firstE) f.write(", ")
        firstE = false
        expr(e, "")
      }
    }

    def expr(e: Expr, parent: String): Unit = e match {
      case Expr.Call("__dagsearch", Seq(Expr.StringLit(t))) =>
        f.write(s"search($t)")
      case Expr.Call("__setlit", items) =>
        f.write("|[")
        var firstI = true
        items.foreach { x =>
          if (!firstI) f.write(",")
          firstI = false
          expr(x, "")
        }
        f.write("]|")
      case Expr.Call("__maplit", kvs) =>
        f.write("|{")
        kvs.grouped(2).zipWithIndex.foreach { case (kv, ix) =>
          if (ix != 0) f.write(",")
          expr(kv(0), ""); f.write(":"); expr(kv(1), "")
        }
        f.write("}|")
      case Expr.Call("__typeval", Seq(Expr.StringLit(t))) => f.write(s"<$t>")
      case Expr.Call("__typename", Seq(Expr.StringLit(t))) => f.write(s"<$t>")
      case Expr.Call(fn @ ("is" | "kind" | "typeunder"), Seq(Expr.StringLit(t)))
          if (try { graft.sources.ZsonParser.parseType(t); true }
              catch { case _: Exception => false }) =>
        // a type-text argument prints as a type value (<(uint16,ip)>)
        f.write(s"$fn(<$t>)")
      case Expr.Call("__concat", parts) =>
        // lowered f-string: "a"+cast(x, <string>)+…
        var firstP = true
        parts.foreach { p =>
          if (!firstP) f.write("+")
          firstP = false
          p match {
            case s: Expr.StringLit => expr(s, "+")
            case other =>
              f.write("cast(")
              expr(other, "")
              f.write(", <string>)")
          }
        }
      case Expr.IntLit(v) => f.write(v.toString)
      case Expr.FloatLit(v) =>
        f.write(if (v == Math.floor(v) && !v.isInfinite) s"${v.toLong}." else v.toString)
      case Expr.StringLit(v) =>
        f.write("\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      case Expr.BoolLit(v) => f.write(v.toString)
      case Expr.NullLit => f.write("null")
      case Expr.TimeLit(_, text) => f.write(text)
      case Expr.DurationLit(_, text) => f.write(text)
      case Expr.Path(parts) => fieldpath(parts)
      case Expr.Index(Expr.Path(parts), Expr.StringLit(k2)) =>
        fieldpath(parts :+ k2)
      case Expr.Index(a, i) =>
        expr(a, ""); f.write("["); expr(i, ""); f.write("]")
      case Expr.Unary(op2, x) =>
        f.write(if (op2 == "not") "!" else op2); expr(x, "not")
      case Expr.Binary(op2, l, r) =>
        op2 match {
          case "and" | "or" | "in" =>
            val parens = needsParens(parent, op2)
            if (parens) f.write("(")
            expr(l, op2); f.write(s" $op2 "); expr(r, op2)
            if (parens) f.write(")")
          case _ =>
            val parens = needsParens(parent, op2)
            if (parens) f.write("(")
            expr(l, op2); f.write(op2); expr(r, op2)
            if (parens) f.write(")")
        }
      case Expr.Cond(c, t, el) =>
        f.write("("); expr(c, ""); f.write(") ? ")
        expr(t, ""); f.write(" : "); expr(el, "")
      case Expr.Call(fn, args) =>
        f.write(s"$fn(")
        exprs(args)
        f.write(")")
      case Expr.RecordLit(fs) =>
        f.write("{")
        var firstF = true
        fs.foreach { case (n, x) =>
          if (!firstF) f.write(",")
          firstF = false
          x match {
            case _ if n == "..." =>
              f.write("..."); expr(x, "")
            case Expr.Path(parts) if parts.lastOption.contains(n) && parts.length == 1 =>
              f.write(quotedName(n))
            case Expr.Call("__spread", Seq(inner)) =>
              f.write("..."); expr(inner, "")
            case _ =>
              f.write(quotedName(n) + ":"); expr(x, "")
          }
        }
        f.write("}")
      case Expr.ArrayLit(xs) =>
        f.write("[")
        var firstX = true
        xs.foreach { x =>
          if (!firstX) f.write(",")
          firstX = false
          expr(x, "")
        }
        f.write("]")
      case Expr.SubQuery(p) =>
        f.open("(")
        f.ret()
        p.stages.headOption match {
          case Some(Stage.Over(es, wv, None)) =>
            f.write("over ")
            exprs(es.map(sem.searchify))
            // dag.go OverExpr prints Defs with NO " with " separator
            var firstV = true
            wv.foreach { case (vn, ve) =>
              if (!firstV) f.write(", ")
              firstV = false
              f.write(s"$vn="); sem match { case _ => }
              expr(sem.searchify(ve), "")
            }
            val savedHead = head
            head = false
            seq(sem.lowerSeq(p.stages.tail))
            head = savedHead
          case _ =>
            head = true
            seq(sem.lowerSeq(p.stages))
        }
        f.close(); f.ret(); f.flush()
        f.write(")")
      case Expr.FString(elems) =>
        f.write("f\"")
        elems.foreach {
          case Left(text) => f.write(text)
          case Right(x) => f.write("{"); expr(x, ""); f.write("}")
        }
        f.write("\"")
      case Expr.RecCall(n, _, args) =>
        f.write(s"$n(")
        exprs(args)
        f.write(")")
    }

    def fieldpath(parts: Seq[String]): Unit =
      if (parts.isEmpty) f.write("this")
      else parts.zipWithIndex.foreach { case (s, k) =>
        if (identLike(s)) {
          if (k != 0) f.write(".")
          f.write(s)
        } else {
          if (k == 0) f.write(".")
          f.write("[\"" + s + "\"]")
        }
      }
  }

  /** zfmt/ast.go IsBool over this AST. */
  private def isBool(e: Expr): Boolean = e match {
    case Expr.BoolLit(_) => true
    case Expr.Unary(_, x) => isBool(x)
    case Expr.Binary(op, _, _) =>
      Set("and", "or", "in", "==", "!=", "<", "<=", ">", ">=")(op)
    case Expr.Cond(_, t, el) => isBool(t) && isBool(el)
    case Expr.Call(fn, _) => Set("is", "has", "missing", "grep", "cidr_match",
      "has_error", "is_error", "__search", "__glob", "__regex")(fn)
    case _ => false
  }
}
