package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Het
import graft.sources.{ZValue, ZsonParser, ZType}

/** Row-level operations on variant (union-typed / error) values.
  *
  * A variant column is Het's tagged struct; for structural operations the
  * value's ZSON text (`Het.render`) is the interchange form — the same
  * boxing zed's own runtime pays for union values (complex.go Under).
  * These UDFs engage ONLY on variant columns, i.e. only on genuinely
  * heterogeneous data; homogeneous columns never leave native Catalyst.
  */
object ZvOps extends Serializable {

  /** Spark-facing mirror of the variant struct (field names must match
    * Het.variantType exactly so the UDF return type lines up). `a`/`m` are
    * the native container caches — populated by zvOf so even UDF-produced
    * containers stay on the fast path one level deep.
    */
  case class ZVLeaf(k: Option[Int], n: Option[Double], s: Option[String],
                    b: Option[Boolean], t: Option[String], z: Option[String])
  case class ZVField(f: String, v: ZVLeaf)
  case class ZV(k: Option[Int], n: Option[Double], s: Option[String],
                b: Option[Boolean], t: Option[String], z: Option[String],
                a: Option[Seq[ZVLeaf]], m: Option[Seq[ZVField]],
                d: Option[Seq[ZVField]])

  private def leafOf(v: ZValue): ZVLeaf = {
    val row = ZValue.leafRow(v)
    if (row == null) null
    else ZVLeaf(
      Option(row.get(0)).map(_.asInstanceOf[Int]),
      Option(row.get(1)).map(_.asInstanceOf[Double]),
      Option(row.get(2)).map(_.asInstanceOf[String]),
      Option(row.get(3)).map(_.asInstanceOf[Boolean]),
      Option(row.get(4)).map(_.asInstanceOf[String]),
      Option(row.get(5)).map(_.asInstanceOf[String]))
  }

  def zvOf(v: ZValue): Option[ZV] = {
    val row = ZValue.leafRow(v)
    if (row == null) None
    else {
      val (a, m) = ZValue.unwrap(v) match {
        case ZValue.VArr(items, _) => (Some(items.map(leafOf)), None)
        case ZValue.VRec(fs) =>
          (None, Some(fs.map { case (n, fv) => ZVField(n, leafOf(fv)) }))
        case ZValue.VMap(es) if es.forall(e =>
            ZValue.unwrap(e._1).isInstanceOf[ZValue.VStr]) =>
          (None, Some(es.map { case (k1, mv) =>
            ZVField(ZValue.unwrap(k1).asInstanceOf[ZValue.VStr].v, leafOf(mv)) }))
        case _ => (None, None)
      }
      // deep record-path cache (Het.variantType doc) — chained access
      // from UDF-produced values stays native too
      def deepOf(prefix: String, fv: ZValue): Seq[ZVField] =
        ZValue.unwrap(fv) match {
          case ZValue.VRec(sub) => sub.flatMap { case (nm, sv) =>
            val name = prefix + graft.operators.Het.pathSep + nm
            ZVField(name, leafOf(sv)) +: deepOf(name, sv)
          }
          case _ => Seq.empty
        }
      val d = ZValue.unwrap(v) match {
        case ZValue.VRec(fs) =>
          val es = fs.flatMap { case (nm, fv) => deepOf(nm, fv) }
          if (es.isEmpty) None else Some(es)
        case _ => None
      }
      Some(ZV(
        Option(row.get(0)).map(_.asInstanceOf[Int]),
        Option(row.get(1)).map(_.asInstanceOf[Double]),
        Option(row.get(2)).map(_.asInstanceOf[String]),
        Option(row.get(3)).map(_.asInstanceOf[Boolean]),
        Option(row.get(4)).map(_.asInstanceOf[String]),
        // lazy-z: cached containers drop the eager text shadow
        if (a.isDefined || m.isDefined) None
        else Option(row.get(5)).map(_.asInstanceOf[String]),
        a, m, d))
    }
  }

  val errMissing: Option[ZV] = zvOf(ZValue.errMissing)

  /** Per-thread parse memo shared with the native-Expression fallbacks
    * (ZsonParser.memoParse): a row's variant text is typically consumed by
    * SEVERAL ops in the same projection (t, len, index, get each re-read
    * the z slot) arriving as String here and as UTF8String in
    * VariantAccess — one parse per ROW across both boundaries.
    */
  private def parse(text: String): Option[ZValue] = ZsonParser.memoParse(text)

  /** int64 variant literal from a native integer column (codegen path). */
  private def intVariant(c: Column): Column = Het.mkVariant(
    lit(0), c.cast(DoubleType), lit(null).cast(StringType),
    lit(null).cast(BooleanType), lit("int64"), lit(null).cast(StringType))

  /** Field access: NATIVE when the record-fields cache `m` is populated —
    * one VariantAccess scan per row, inside whole-stage codegen; ZSON-text
    * fallback otherwise (deeply nested values, exotic carriers).
    */
  def get(v: Column, field: String): Column =
    Bridge.column(VariantGet(Bridge.expression(v), Bridge.expression(lit(field))))

  /** Positional access: NATIVE via the elements cache `a` — one
    * VariantAccess pick per row (negative-from-end inside), codegen; text
    * fallback for maps / unpopulated carriers.
    */
  def index(v: Column, idx: Column): Column =
    Bridge.column(VariantIndex(
      Bridge.expression(v), Bridge.expression(idx.cast(IntegerType))))

  /** Index with a RUNTIME-typed index value (expr/eval.go Index): arrays/
    * sets take ints (negative from end; OOB/null → error("missing"); other
    * kinds → "index is not an integer"), records take strings ("record
    * index is not a string" otherwise), maps match key values.
    */
  private val indexAnyU = udf((cont: String, idx: String) => {
    import ZValue.{errMissing => _, _}
    def errOn(msg: String, on: ZValue) =
      zvOf(VErr(VRec(Vector("message" -> VStr(msg), "on" -> on))))
    val cv = Option(cont).flatMap(parse).map(unwrap).getOrElse(VNull(ZType.nullT))
    val ivRaw = Option(idx).flatMap(parse).getOrElse(VNull(ZType.nullT))
    val iv = unwrap(ivRaw)
    def intIdx: Option[Long] = iv match {
      case VInt(n, _) => Some(n)
      case VUint64(n) => Some(n.toLong)
      case _ => None
    }
    cv match {
      case VArr(items, _) => iv match {
        case VNull(_) => errMissing
        case _ => intIdx match {
          case Some(n) =>
            val i = if (n < 0) items.length + n else n
            if (i >= 0 && i < items.length) zvOf(items(i.toInt)) else errMissing
          case None => errOn("index is not an integer", iv)
        }
      }
      case VRec(fs) => iv match {
        case VStr(s) => fs.find(_._1 == s).map(f => zvOf(f._2)).getOrElse(errMissing)
        case VNull(_) => errMissing
        case _ => errOn("record index is not a string", iv)
      }
      case VMap(es) =>
        val key = zsonText(iv)
        es.find(e => zsonText(unwrap(e._1)) == key)
          .map(e => zvOf(e._2)).getOrElse(errMissing)
      case VStr(s) => intIdx match {
        case Some(n) =>
          val cps = s.codePoints().toArray
          val i = if (n < 0) cps.length + n else n
          if (i >= 0 && i < cps.length)
            zvOf(VStr(new String(cps, i.toInt, 1))) else errMissing
        case None => errOn("index is not an integer", iv)
      }
      case VBytes(b) => intIdx match {
        case Some(n) =>
          val i = if (n < 0) b.length + n else n
          if (i >= 0 && i < b.length)
            zvOf(VInt(b(i.toInt) & 0xffL, "uint8")) else errMissing
        case None => errOn("index is not an integer", iv)
      }
      case _ => errMissing
    }
  })

  def indexAny(v: Column, idx: Column): Column = {
    val arr = v.getField("a"); val mF = v.getField("m")
    val ik = idx.getField("k"); val inn = idx.getField("n"); val is = idx.getField("s")
    val intLike = ik === 0 && inn.isNotNull && inn === floor(inn) &&
      idx.getField("t").rlike("^u?int")
    val nativeIdx = Bridge.column(VariantAccess(
      Bridge.expression(arr), Bridge.expression(Het.nullFields),
      Bridge.expression(inn.cast(IntegerType)), byName = false))
    val nativeGet = Bridge.column(VariantAccess(
      Bridge.expression(mF), Bridge.expression(v.getField("d")),
      Bridge.expression(is), byName = true))
    when(v.isNotNull && arr.isNotNull && idx.isNotNull && intLike, nativeIdx)
      .when(v.isNotNull && mF.isNotNull && idx.isNotNull && ik === 2 && is.isNotNull,
        nativeGet)
      .otherwise(indexAnyU(Het.render(v), Het.render(idx)))
  }

  /** zed len() over a boxed value (function/len.go): arrays/sets/maps/
    * records by entry count, strings by bytes, bytes by size; else error.
    */
  private val lenU = udf((text: String) => {
    if (text == null) None
    else parse(text).flatMap(v => ZValue.unwrap(v) match {
      case ZValue.VArr(items, _) => zvOf(ZValue.VInt(items.length.toLong, "int64"))
      case ZValue.VMap(es) => zvOf(ZValue.VInt(es.length.toLong, "int64"))
      case ZValue.VRec(fs) => zvOf(ZValue.VInt(fs.length.toLong, "int64"))
      case ZValue.VStr(s) => zvOf(ZValue.VInt(s.getBytes("UTF-8").length.toLong, "int64"))
      case ZValue.VBytes(b) => zvOf(ZValue.VInt(b.length.toLong, "int64"))
      case ZValue.VNull(_) => zvOf(ZValue.VInt(0L, "int64"))
      case ZValue.VIp(_) | ZValue.VNet(_) =>
        zvOf(ZValue.VErr(ZValue.VStr("len: bad type")))
      case other => zvOf(ZValue.VErr(ZValue.VStr("len: bad type")))
    })
  })

  def len(v: Column): Column = {
    val arr = v.getField("a"); val mF = v.getField("m")
    when(v.isNull, intVariant(lit(0)))
      .when(arr.isNotNull, intVariant(size(arr)))
      .when(mF.isNotNull, intVariant(size(mF)))
      .when(v.getField("k") === 2 && v.getField("s").isNotNull,
        intVariant(octet_length(v.getField("s"))))
      .otherwise(lenU(Het.render(v)))
  }

  /** Full zed len() over a variant value (function/len.go): strings by
    * UTF-8 bytes, bytes by size, ip 4/16, net 8/32, containers by entry
    * count, types recursively (union → alternatives, record → fields),
    * errors → error({message:"len()",on:…}).
    */
  private val lenZedU = udf((k: java.lang.Integer, n: java.lang.Double,
      b: java.lang.Boolean, s: String, t: String, z: String) => {
    // "len: bad type" errors carry the ORIGINAL value (len.go WrapError)
    def badOn: ZValue = {
      if (k != null && k == 0 && n != null) {
        val tn = Option(t).getOrElse("int64")
        if (tn.startsWith("float") || tn == "decimal") ZValue.VFloat(n, tn)
        else ZValue.VInt(n.toLong, tn)
      } else if (k != null && k == 3 && b != null) ZValue.VBool(b)
      else if (s != null) ZValue.VStr(s)
      else ZValue.VNull(ZType.nullT)
    }
    def typeLen(ty: ZType): Long = ZType.strip(ty) match {
      case ZType.Rec(fs) => fs.length.toLong
      case ZType.Union(alts) => alts.length.toLong
      case ZType.Arr(e) => typeLen(e)
      case ZType.SetT(e) => typeLen(e)
      case ZType.MapT(_, _) => 2L
      case _ => 1L
    }
    def int(n: Long) = zvOf(ZValue.VInt(n, "int64"))
    if (k == null) int(0L)
    else if (k == 5) {
      val on: ZValue =
        if (z == null) ZValue.VNull(ZType.ErrT(ZType.Prim("null")))
        else ZValue.VErr(parse(z).getOrElse(ZValue.VStr(z)))
      zvOf(ZValue.VErr(ZValue.VRec(Vector(
        "message" -> ZValue.VStr("len()"), "on" -> on))))
    } else if (t == "string") int(if (s == null) 0L else s.getBytes("UTF-8").length.toLong)
    else if (t == "bytes") int(if (s == null) 0L else (s.length - 2L) / 2L)
    else if (t == "ip") int(if (s == null) 0L else if (s.contains(":")) 16L else 4L)
    else if (t == "net") int(if (s == null) 0L else if (s.contains(":")) 32L else 8L)
    else if (t == "type") {
      if (s == null) int(0L)
      else int(try typeLen(ZsonParser.parseType(s)) catch { case _: Exception => 1L })
    } else if (z != null) parse(z).flatMap(v => ZValue.unwrap(v) match {
      case ZValue.VArr(items, _) => int(items.length.toLong)
      case ZValue.VMap(es) => int(es.length.toLong)
      case ZValue.VRec(fs) => int(fs.length.toLong)
      case _ => int(0L)
    }).orElse(int(0L))
    else if (k == 0 || k == 1 || k == 3) zvOf(ZValue.VErr(ZValue.VRec(Vector(
      "message" -> ZValue.VStr("len: bad type"),
      "on" -> badOn))))
    else int(0L) // typed null container
  })

  def lenZed(v: Column): Column =
    // container sizes come native from the caches; everything else (and
    // cache-less containers, whose z survives) takes the text path
    when(v.isNotNull && v.getField("k") =!= 5 && v.getField("a").isNotNull,
        intVariant(size(v.getField("a"))))
      .when(v.isNotNull && v.getField("k") =!= 5 && v.getField("m").isNotNull,
        intVariant(size(v.getField("m"))))
      .otherwise(lenZedU(v.getField("k"), v.getField("n"), v.getField("b"),
        v.getField("s"), v.getField("t"), v.getField("z")))

  /** fields(<type-text>) — the leaf paths of a record type as ZSON text
    * ([["r","a"],["s"]]); null for non-record types (→ error("missing")).
    */
  private val typePathsU = udf((typeText: String) => {
    if (typeText == null) Option.empty[String]
    else try {
      def paths(ty: ZType, prefix: Vector[String]): Vector[Vector[String]] =
        ZType.strip(ty) match {
          case ZType.Rec(fs) => fs.toVector.flatMap { case (n, ft) =>
            ZType.strip(ft) match {
              case _: ZType.Rec => paths(ft, prefix :+ n)
              case _ => Vector(prefix :+ n)
            }
          }
          case _ => Vector.empty
        }
      ZType.strip(ZsonParser.parseType(typeText)) match {
        case r: ZType.Rec =>
          val ps = paths(r, Vector.empty)
          Some(ps.map(_.map(x => "\"" + x + "\"").mkString("[", ",", "]"))
            .mkString("[", ",", "]"))
        case _ => None
      }
    } catch { case _: Exception => None }
  })

  def typePaths(typeText: Column): Column = typePathsU(typeText)

  /** Unary minus over a boxed number (expr/eval.go unary '-'): width-
    * preserving with underflow errors (negating the min int of a width is
    * error({message:"unary '-' underflow",on:<v>})), unsigned widths move
    * to their signed counterpart, non-numbers are the reference's
    * "type incompatible with unary '-' operator" error value, typed
    * numeric nulls stay typed nulls.
    */
  private val negU = udf((text: String, t: String) => {
    import ZValue._
    def underflow(on: ZValue) = zvOf(VErr(VRec(Vector(
      "message" -> VStr("unary '-' underflow"), "on" -> on))))
    def incompat(on: ZValue) = zvOf(VErr(VRec(Vector(
      "message" -> VStr("type incompatible with unary '-' operator"), "on" -> on))))
    val ty = Option(t).getOrElse("")
    def minOf(w: String): Long = w match {
      case "int8" => Byte.MinValue
      case "int16" => Short.MinValue
      case "int32" => Int.MinValue
      case _ => Long.MinValue
    }
    if (text == null) incompat(VNull(ZType.nullT))
    else if (text == "null") {
      // typed null: numeric types negate to themselves, others error
      if (ty.startsWith("int") || ty.startsWith("uint") || ty.startsWith("float") ||
          ty == "duration")
        zvOf(VNull(ZType.Prim(if (ty.startsWith("uint")) "int" + ty.drop(4) else ty)))
      else incompat(if (ty.isEmpty || ty == "null") VNull(ZType.nullT)
                    else VNull(ZType.Prim(ty)))
    } else parse(text).flatMap { v0 =>
      ZValue.unwrap(v0) match {
        case VInt(n, _) if ty.startsWith("int") || ty.isEmpty =>
          val w = if (ty.isEmpty) "int64" else ty
          if (n == minOf(w)) underflow(VInt(n, w)) else zvOf(VInt(-n, w))
        case VInt(n, _) if ty.startsWith("uint") =>
          val w = "int" + ty.drop(4)
          // unsigned values that exceed the signed width underflow too
          if (w != "int64" && -n < minOf(w)) underflow(VInt(n, ty))
          else zvOf(VInt(-n, w))
        case VInt(n, t0) =>
          if (n == Long.MinValue) underflow(VInt(n, t0)) else zvOf(VInt(-n, t0))
        case VUint64(n) =>
          if (n > BigDecimal(Long.MaxValue)) underflow(VUint64(n))
          else if (n.toLong == Long.MinValue) underflow(VInt(n.toLong, "int64"))
          else zvOf(VInt(-n.toLong, "int64"))
        case VFloat(d, ft) => zvOf(VFloat(-d, if (ty.startsWith("float")) ty else ft))
        case VDur(ns) => zvOf(VDur(-ns))
        case other => incompat(other)
      }
    }.orElse(ZvOps.errMissing)
  })

  def neg(v: Column): Column = {
    val k = v.getField("k"); val n = v.getField("n")
    val t = v.getField("t"); val z = v.getField("z")
    // Exact-and-safe natively: floats of any width, and int64 whose z is
    // null (|n| <= 2^53 → negation exact, can't underflow). Widths, uints,
    // durations, big ints keep the faithful text path.
    when(v.isNotNull && k === 0 && n.isNotNull && z.isNull &&
        (t.startsWith("float") || t === "int64"),
      Het.mkVariant(lit(0), -n, lit(null).cast(StringType),
        lit(null).cast(BooleanType), t, lit(null).cast(StringType)))
      .otherwise(negU(Het.render(v), v.getField("t")))
  }

  /** Elements of a boxed container (for `over` on union-typed values):
    * arrays/sets → members, maps → {key,value}-ish pairs flattened to
    * text, non-containers → null (caller falls back to the value itself).
    */
  private val elemsU = udf((text: String) => {
    if (text == null) Option.empty[Seq[Option[ZV]]]
    else parse(text).flatMap(v => ZValue.unwrap(v) match {
      case ZValue.VArr(items, _) => Some(items.map(zvOf))
      case ZValue.VRec(fields) =>
        // over a record: one {key:[name],value} entry per field
        // (traverse/over.go records)
        Some(fields.map { case (n, fv) =>
          zvOf(ZValue.VRec(Vector(
            "key" -> ZValue.VArr(Vector(ZValue.VStr(n)), isSet = false),
            "value" -> fv)))
        })
      case ZValue.VMap(entries) =>
        Some(entries.map { case (k, mv) =>
          zvOf(ZValue.VRec(Vector("key" -> k, "value" -> mv)))
        })
      case _ => Option.empty[Seq[Option[ZV]]]
    })
  })

  def elems(v: Column): Column = {
    val arr = v.getField("a")
    when(v.isNull, lit(null).cast(ArrayType(Het.variantType)))
      .when(arr.isNotNull, transform(arr, x => Het.promote(x)))
      .otherwise(elemsU(Het.render(v)))
  }

  /** zed join(s, sep) over boxed values (function/string.go Join): s must
    * be an array (null string elements join as ""), sep must be a string.
    */
  private val joinZedU = udf((sZ: String, sepZ: String) => {
    import ZValue._
    def err(msg: String, on: ZValue) = zvOf(VErr(VRec(Vector(
      "message" -> VStr(msg), "on" -> on))))
    val sV = Option(sZ).flatMap(parse).map(unwrap)
    val sepV = Option(sepZ).flatMap(parse).map(unwrap)
    sepV match {
      case Some(v) if !v.isInstanceOf[VStr] && !v.isInstanceOf[VNull] =>
        err("join: separator must be string", v)
      case _ => sV match {
        case Some(VArr(items, _)) =>
          val sep = sepV match { case Some(VStr(x)) => x; case _ => "" }
          val parts = items.map(e => unwrap(e) match {
            case VStr(x) => x
            case VNull(_) => ""
            case other => zsonText(other)
          })
          zvOf(VStr(parts.mkString(sep)))
        case Some(other) => err("join: array of string arg required", other)
        case None => err("join: array of string arg required",
          VNull(ZType.Prim("null")))
      }
    }
  })

  def joinZed(s: Column, sep: Column): Column =
    joinZedU(Het.render(s), Het.render(sep))

  /** Variant → native string (zed string() cast semantics for scalars). */
  def asText(v: Column): Column =
    when(v.isNull, lit(null).cast(StringType))
      .when(v.getField("k") === 2, v.getField("s"))
      .otherwise(Het.render(v))

  /** Wrap any typed column as a variant (idempotent). */
  def box(c: Column, dt: DataType): Column = Het.variant(c, dt)

  // ---- recursive user funcs --------------------------------------------------

  /** Tiny row-level evaluator for (mutually) recursive user funcs — the
    * one expression family macro expansion cannot compile. Supports the
    * arithmetic / comparison / ternary / call core zed funcs are written
    * in; everything else evaluates to error("missing"). The reference
    * also evaluates funcs call-by-call at runtime (sam/expr/function).
    */
  private def interp(table: Map[String, (Seq[String], graft.lang.Expr)],
      e: graft.lang.Expr, env: Map[String, ZValue], depth: Int): ZValue = {
    import graft.lang.Expr._
    import ZValue._
    if (depth > 1000) return VErr(VStr("exceeded max recursion depth"))
    def ev(x: graft.lang.Expr): ZValue = interp(table, x, env, depth + 1)
    def num(v: ZValue): Option[Either[Long, Double]] = unwrap(v) match {
      case VInt(n, _) => Some(Left(n))
      case VUint64(n) => Some(Left(n.toLong))
      case VFloat(d, _) => Some(Right(d))
      case VTime(ns) => Some(Left(ns))
      case VDur(ns) => Some(Left(ns))
      case _ => None
    }
    def call(fn: String, args: Seq[graft.lang.Expr]): ZValue = table.get(fn) match {
      case Some((params, body)) if params.length == args.length =>
        val bound = params.zip(args.map(ev)).toMap
        interp(table, body, bound, depth + 1)
      case _ => ZValue.errMissing
    }
    e match {
      case IntLit(v) => VInt(v, "int64")
      case FloatLit(v) => VFloat(v, "float64")
      case StringLit(v) => VStr(v)
      case BoolLit(v) => VBool(v)
      case NullLit => VNull(ZType.nullT)
      case DurationLit(ns, _) => VDur(ns)
      case TimeLit(ns, _) => VTime(ns)
      case Path(Seq(n)) if env.contains(n) => env(n)
      case Path(Seq()) => env.getOrElse("this", ZValue.errMissing)
      case Path(parts0) =>
        // descend `this` (or a bound var) through record fields
        val (root, rest) = parts0.headOption match {
          case Some(h) if env.contains(h) => (env(h), parts0.tail)
          case Some("this") =>
            (env.getOrElse("this", ZValue.errMissing), parts0.tail)
          case _ => (env.getOrElse("this", ZValue.errMissing), parts0)
        }
        rest.foldLeft(root)((acc, f) => unwrap(acc) match {
          case VRec(fs) => fs.find(_._1 == f).map(_._2)
            .getOrElse(ZValue.errMissing)
          case _ => ZValue.errMissing
        })
      case Unary("-", x) => ev(x) match {
        case v => num(v) match {
          case Some(Left(n)) => VInt(-n, "int64")
          case Some(Right(d)) => VFloat(-d, "float64")
          case None => ZValue.errMissing
        }
      }
      case Unary(op, x) if op == "!" || op == "not" => unwrap(ev(x)) match {
        case VBool(b) => VBool(!b)
        case _ => ZValue.errMissing
      }
      case Cond(c, t, f) => unwrap(ev(c)) match {
        case VBool(true) => ev(t)
        case VBool(false) => ev(f)
        case _ => ZValue.errMissing
      }
      case Binary(op, l, r) if op == "and" || op == "or" =>
        (unwrap(ev(l)), unwrap(ev(r))) match {
          case (VBool(a), VBool(b)) => VBool(if (op == "and") a && b else a || b)
          case _ => ZValue.errMissing
        }
      case Binary(op, l, r) if Set("==", "!=", "<", "<=", ">", ">=")(op) =>
        val (lv, rv) = (ev(l), ev(r))
        val cmp: Option[Int] = (num(lv), num(rv)) match {
          case (Some(a), Some(b)) =>
            val (x, y) = (a.fold(_.toDouble, identity), b.fold(_.toDouble, identity))
            Some(java.lang.Double.compare(x, y))
          case _ => (unwrap(lv), unwrap(rv)) match {
            case (VStr(a), VStr(b)) => Some(a.compareTo(b))
            case (VBool(a), VBool(b)) => Some(java.lang.Boolean.compare(a, b))
            case (a, b) => if (op == "==" || op == "!=") Some(if (a == b) 0 else 1) else None
          }
        }
        cmp match {
          case Some(c) => VBool(op match {
            case "==" => c == 0
            case "!=" => c != 0
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
          })
          case None => ZValue.errMissing
        }
      case Binary(op, l, r) if Set("+", "-", "*", "/", "%")(op) =>
        val (lv, rv) = (ev(l), ev(r))
        (unwrap(lv), unwrap(rv)) match {
          case (VStr(a), VStr(b)) if op == "+" => VStr(a + b)
          case _ => (num(lv), num(rv)) match {
            case (Some(Left(a)), Some(Left(b))) => op match {
              case "+" => VInt(a + b, "int64")
              case "-" => VInt(a - b, "int64")
              case "*" => VInt(a * b, "int64")
              case "/" => if (b == 0) VErr(VStr("divide by zero")) else VInt(a / b, "int64")
              case "%" => if (b == 0) VErr(VStr("modulo by zero")) else VInt(a % b, "int64")
            }
            case (Some(x), Some(y)) =>
              val (a, b) = (x.fold(_.toDouble, identity), y.fold(_.toDouble, identity))
              op match {
                case "+" => VFloat(a + b, "float64")
                case "-" => VFloat(a - b, "float64")
                case "*" => VFloat(a * b, "float64")
                case "/" => if (b == 0) VErr(VStr("divide by zero")) else VFloat(a / b, "float64")
                case "%" => if (b == 0) VErr(VStr("modulo by zero")) else VFloat(a % b, "float64")
              }
            case _ => ZValue.errMissing
          }
        }
      case Call(fn, args) => call(fn, args)
      case RecCall(fn, _, args) => call(fn, args)
      case _ => ZValue.errMissing
    }
  }

  /** Deep error scan of a boxed value (function/haserror.go): true when
    * the value or anything nested inside it is an error value.
    */
  private val hasErrorU = udf((text: String) => {
    import ZValue._
    def walk(v: ZValue): Boolean = unwrap(v) match {
      case VErr(_) => true
      case VRec(fs) => fs.exists(f => walk(f._2))
      case VArr(items, _) => items.exists(walk)
      case VMap(es) => es.exists { case (k, x) => walk(k) || walk(x) }
      case _ => false
    }
    if (text == null) false else parse(text).exists(walk)
  })

  def hasErrorDeep(v: Column): Column = hasErrorU(Het.render(v))

  /** bytes(x) over a boxed value: strings by UTF-8, ips by their binary
    * address (expr cast semantics).
    */
  private val bytesU = udf((text: String, t: String) => {
    if (text == null) null
    else if (t == "ip")
      try java.net.InetAddress.getByName(text).getAddress
      catch { case _: Exception => text.getBytes("UTF-8") }
    else parse(text).map(ZValue.unwrap) match {
      case Some(ZValue.VStr(s)) => s.getBytes("UTF-8")
      case Some(ZValue.VBytes(b)) => b
      case _ => text.getBytes("UTF-8")
    }
  })

  def bytesZed(v: Column): Column = bytesU(Het.render(v), v.getField("t"))

  /** grok(pattern, s[, defs]) with the full reference semantics
    * (function/grok.go): the pattern/defs may be RUNTIME values (per-row
    * compile behind a per-thread one-entry memo); captures land in a
    * boxed record with non-participating groups OMITTED and duplicate
    * names squashed last-wins; no match is the reference's error payload.
    */
  private val grokMemo =
    new ThreadLocal[(String, String, java.util.regex.Pattern, Seq[String])]

  private val grokU = udf((pattern: String, in: String, defs: String) => {
    import ZValue._
    def err(msg: String, on: ZValue) =
      zvOf(VErr(VRec(Vector("message" -> VStr(msg), "on" -> on))))
    if (pattern == null || in == null) None
    else try {
      val d = Option(defs).getOrElse("")
      val memo = grokMemo.get()
      val (p, names) =
        if (memo != null && memo._1 == pattern && memo._2 == d) (memo._3, memo._4)
        else {
          val (re, ns) = graft.functions.ZedFunctions.grokCompile(pattern, d)
          val pc = java.util.regex.Pattern.compile(re)
          grokMemo.set((pattern, d, pc, ns))
          (pc, ns)
        }
      val m = p.matcher(in)
      if (!m.find()) err("grok(): value does not match pattern", VStr(in))
      else {
        val pairs = names.zipWithIndex.flatMap { case (nm, i) =>
          Option(m.group(i + 1)).map(nm -> _) }
        val squashed = pairs.foldLeft(Vector.empty[(String, String)]) {
          case (acc, (n2, v)) =>
            if (acc.exists(_._1 == n2))
              acc.map { case (an, av) => if (an == n2) (an, v) else (an, av) }
            else acc :+ (n2 -> v)
        }
        zvOf(VRec(squashed.map { case (n2, v) => n2 -> (VStr(v): ZValue) }))
      }
    } catch { case e: Exception =>
      err("grok(): " + String.valueOf(e.getMessage), VStr(in)) }
  })

  def grokZed(pattern: Column, subject: Column, defs: Column): Column =
    grokU(pattern, subject, defs)

  /** parse_zson(s): the string parses to its own boxed value; non-string
    * input and bad syntax are the reference's error payloads
    * (function/parsezson.go).
    */
  private val parseZsonU = udf((text: String, shape: String) => {
    import ZValue._
    def errRec(msg: String, on: ZValue) =
      zvOf(VErr(VRec(Vector("message" -> VStr(msg), "on" -> on))))
    val isString = Option(shape).exists { s =>
      try ZType.strip(ZsonParser.parseType(s)) == ZType.Prim("string")
      catch { case _: Exception => s == "string" }
    }
    if (!isString) {
      val on = Option(text).filter(_ != "null").flatMap(parse)
        .getOrElse(VNull(ZType.nullT))
      errRec("parse_zson: string arg required", on)
    } else if (text == null || text == "null") None
    else {
      // the rendered subject may be QUOTED string text — unquote first
      val s = parse(text).map(unwrap) match {
        case Some(VStr(x)) => x
        case _ => text
      }
      try zvOf(new ZsonParser(s).parseOne())
      catch { case _: Exception =>
        errRec("parse_zson: ZSON syntax error", VStr(s))
      }
    }
  })

  def parseZsonZed(text: Column, kind: Column): Column =
    parseZsonU(text, kind)

  /** parse_uri(s): the reference record shape with typed nulls and Go's
    * error payloads (function/parse.go ParseURI; net/url.Parse semantics
    * via ZedFunctions.goUrlParse).
    */
  private val parseUriU = udf((text: String, shape: String) => {
    import ZValue._
    def errRec(msg: String, on: ZValue) =
      zvOf(VErr(VRec(Vector("message" -> VStr(msg), "on" -> on))))
    val strT = ZType.Prim("string")
    val isString = Option(shape).exists { s =>
      try ZType.strip(ZsonParser.parseType(s)) == strT
      catch { case _: Exception => s == "string" }
    }
    def onVal: ZValue =
      if (text == null || text == "null") VNull(if (isString) strT else ZType.nullT)
      else parse(text).getOrElse(VStr(text))
    if (!isString || text == null || text == "null")
      errRec("parse_uri: non-empty string arg required", onVal)
    else {
      // only a RENDERED (quoted) string round-trips through the zson
      // parser; a plain string column arrives raw — a bare "scheme://…"
      // would otherwise lex as just the leading identifier
      val raw =
        if (text.startsWith("\"")) parse(text).map(unwrap) match {
          case Some(VStr(x)) => x
          case _ => text
        } else text
      graft.functions.ZedFunctions.goUrlParse(raw) match {
        case Left(goErr) => errRec(s"parse_uri: $goErr", VStr(raw))
        case Right(g) =>
          val badPort = g.port.exists(p =>
            (try p.toLong > 65535L catch { case _: Exception => true }))
          if (badPort) errRec(s"parse_uri: invalid port: ${g.port.get}", VStr(raw))
          else {
            def str(o: Option[String]): ZValue =
              o.map(VStr(_): ZValue).getOrElse(VNull(strT))
            val queryT = ZType.MapT(strT, ZType.Arr(strT))
            val rec = VRec(Vector(
              "scheme" -> str(g.scheme),
              "opaque" -> str(g.opaque),
              "user" -> str(g.user),
              "password" -> str(g.password),
              "host" -> str(g.host),
              "port" -> g.port.map(p => VInt(p.toLong, "uint16"): ZValue)
                .getOrElse(VNull(ZType.Prim("uint16"))),
              "path" -> str(g.path),
              "query" ->
                (if (g.query.isEmpty) VNull(queryT)
                 else VMap(g.query.map { case (k, vs) =>
                   (VStr(k): ZValue) -> (VArr(vs.map(VStr(_): ZValue), isSet = false): ZValue)
                 })),
              "fragment" -> str(g.fragment)))
            zvOf(rec)
          }
      }
    }
  })

  def parseUriZed(text: Column, kind: Column): Column =
    parseUriU(text, kind)

  /** Record literal with a RUNTIME-typed spread ({...f(x), c:2}): entries
    * arrive as (name, zson text) pairs, a null name meaning "spread this
    * record's fields here"; later names win in place (record-spread
    * semantics, expr/record.go).
    */
  private val recordLitU = udf((names: Seq[String], vals: Seq[String]) => {
    import ZValue._
    val ordered = scala.collection.mutable.LinkedHashMap.empty[String, ZValue]
    names.zip(vals).foreach { case (n, vz) =>
      val v = Option(vz).flatMap(parse).getOrElse(VNull(ZType.nullT))
      if (n == null) unwrap(v) match {
        case VRec(fs) => fs.foreach { case (fn, fv) => ordered(fn) = fv }
        case _ => () // spread of missing/non-record contributes nothing
      }
      else ordered(n) = v
    }
    zvOf(VRec(ordered.toVector))
  })

  def recordLit(names: Column, vals: Column): Column = recordLitU(names, vals)

  /** cast(v, t) where the value is union-typed and/or the type is a
    * runtime type VALUE (ZShaper.castValue semantics).
    */
  private val castAnyU = udf((vz: String, vt: String, tz: String) => {
    import ZValue._
    if (tz == null) zvOf(ZValue.errMissing)
    else {
      val tTxt = {
        val s = tz.trim
        val s2 = if (s.startsWith("<") && s.endsWith(">")) s.substring(1, s.length - 1) else s
        if (s2.startsWith("\"") && s2.endsWith("\"") && s2.length >= 2)
          s2.substring(1, s2.length - 1) else s2
      }
      val tOpt = try Some(ZsonParser.parseType(tTxt)) catch { case _: Exception => None }
      tOpt match {
        case None => zvOf(VErr(VRec(Vector(
          "message" -> VStr("cast: not a type"), "on" -> VStr(tz)))))
        case Some(t) =>
          // re-apply the variant's declared type: the rendered text drops
          // decorators, but union/named SOURCE types drive createStep
          val v0 = Option(vz).flatMap(parse).getOrElse(VNull(ZType.nullT))
          val v = Option(vt).flatMap(s =>
            try Some(ZsonParser.retype(v0, ZsonParser.parseType(s)))
            catch { case _: Exception => None }).getOrElse(v0)
          zvOf(graft.functions.ZShaper.castValue(v, t))
      }
    }
  })

  def castAny(v: Column, declared: Column, t: Column): Column =
    castAnyU(Het.render(v), coalesce(declared, v.getField("t")), t)

  /** bucket(t, bin) over boxed values (function/bucket.go): times and
    * durations floor-align to the bin; a float64 time aligns as ns.
    */
  private val bucketU = udf((tText: String, binText: String) => {
    import ZValue._
    def nsOf(v: ZValue): Option[(Long, String)] = unwrap(v) match {
      case VTime(ns) => Some((ns, "time"))
      case VDur(ns) => Some((ns, "dur"))
      case VInt(n, _) => Some((n, "int"))
      case VFloat(d, _) => Some((d.toLong, "time")) // epoch-ns float
      case _ => None
    }
    (Option(tText).flatMap(parse).flatMap(nsOf),
     Option(binText).flatMap(parse).flatMap(nsOf)) match {
      case (Some((tNs, kind)), Some((bin0, binKind))) =>
        // a bare integer bin means SECONDS (bucket.go coerces to duration)
        val bin = if (binKind == "int") bin0 * 1000000000L else bin0
        if (bin == 0) None
        else {
          val aligned = tNs - Math.floorMod(tNs, bin)
          kind match {
            case "dur" => zvOf(VDur(aligned))
            case _ => zvOf(VTime(aligned))
          }
        }
      case _ => ZvOps.errMissing
    }
  })

  def bucketZed(t: Column, bin: Column): Column = bucketU(t, bin)

  /** flatten(this) per row (function/flatten.go): records become an array
    * of {key:[path],value} leaves; non-records pass through unchanged.
    * `text` is the FUSED record's zson; `shape` the row's own type.
    */
  private val flattenU = udf((text: String, shape: String) => {
    import ZValue._
    val parsedShape = try ZsonParser.parseType(Option(shape).getOrElse(""))
                      catch { case _: Exception => ZType.nullT }
    val fused = Option(text).flatMap(parse)
    ZType.strip(parsedShape) match {
      case ZType.Rec(shapeFields) =>
        fused.map(unwrap) match {
          case Some(VRec(fs)) =>
            // restrict to the row's OWN fields, in shape order
            val own = shapeFields.flatMap { case (n, ft) =>
              fs.find(_._1 == n).map { case (_, fv) =>
                n -> (try ZsonParser.retype(fv, ft) catch { case _: Exception => fv })
              }
            }
            val leaves = Vector.newBuilder[(Vector[String], ZValue)]
            def walk(prefix: Vector[String], v: ZValue): Unit = unwrap(v) match {
              case VRec(ffs) if ffs.nonEmpty => ffs.foreach { case (n, fv) => walk(prefix :+ n, fv) }
              case _ => leaves += ((prefix, v))
            }
            own.foreach { case (n, v) => walk(Vector(n), v) }
            zvOf(VArr(leaves.result().map { case (p, v) =>
              VRec(Vector("key" -> VArr(p.map(VStr(_)), isSet = false), "value" -> v))
            }, isSet = false))
          case _ => None
        }
      case other =>
        // non-record value passes through with its own type
        fused.map(unwrap) match {
          case Some(VRec(fs)) => fs.find(_._1 == "this").flatMap { case (_, v) =>
            zvOf(try ZsonParser.retype(v, other) catch { case _: Exception => v })
          }
          case Some(v) => zvOf(v)
          case None => None
        }
    }
  })

  def flattenZed(text: Column, shape: Column): Column = flattenU(text, shape)

  /** unflatten(this) per row (function/unflatten.go): an array of
    * {key,value} entries builds a nested record; a non-string key or a
    * REOPENED top-level field is the reference's error value.
    */
  private val unflattenU = udf((text: String) => {
    import ZValue._
    def errRec(msg: String, on: ZValue) = zvOf(VErr(VRec(Vector(
      "message" -> VStr(msg), "on" -> on))))
    Option(text).flatMap(parse) match {
      case None => None
      case Some(v0) => unwrap(v0) match {
        case VArr(items, _) =>
          // ordered build: only the MOST RECENT top-level field stays
          // open; reopening an earlier one is a duplicate-field error
          def insert(rec: Vector[(String, ZValue)], path: List[String],
              value: ZValue): Vector[(String, ZValue)] = path match {
            case Nil => rec
            case k :: Nil =>
              if (rec.exists(_._1 == k)) rec.map { case (n, x) =>
                if (n == k) n -> value else n -> x }
              else rec :+ (k -> value)
            case k :: rest =>
              val sub = rec.find(_._1 == k).map(x => unwrap(x._2)) match {
                case Some(VRec(fs)) => fs
                case _ => Vector.empty[(String, ZValue)]
              }
              val updated = VRec(insert(sub, rest, value))
              if (rec.exists(_._1 == k)) rec.map { case (n, x) =>
                if (n == k) n -> (updated: ZValue) else n -> x }
              else rec :+ (k -> (updated: ZValue))
          }
          var rec = Vector.empty[(String, ZValue)]
          var lastTop: Option[String] = None
          var failed: Option[Option[ZV]] = None
          items.foreach { item =>
            if (failed.isEmpty) unwrap(item) match {
              case VRec(fs) =>
                val keyV = fs.find(_._1 == "key").map(x => unwrap(x._2))
                val value = fs.find(_._1 == "value").map(_._2).getOrElse(VNull(ZType.nullT))
                val path: Either[ZValue, List[String]] = keyV match {
                  case Some(VStr(s)) => Right(List(s))
                  case Some(VArr(ks, _)) if ks.forall(k => unwrap(k).isInstanceOf[VStr]) =>
                    Right(ks.map(k => unwrap(k).asInstanceOf[VStr].v).toList)
                  case Some(other) => Left(other)
                  case None => Left(VNull(ZType.nullT))
                }
                path match {
                  case Left(bad) =>
                    failed = Some(errRec(
                      s"invalid key type ${ZType.text(ZValue.typeOf(bad))}: " +
                        "expected either string or [string]", item))
                  case Right(p) =>
                    val top = p.head
                    if (rec.exists(_._1 == top) && !lastTop.contains(top))
                      failed = Some(errRec(s"""duplicate field: "$top"""", v0))
                    else {
                      rec = insert(rec, p, value)
                      lastTop = Some(top)
                    }
                }
              case _ =>
            }
          }
          failed.getOrElse(zvOf(VRec(rec)))
        case other => zvOf(other) // non-array: unchanged
      }
    }
  })

  def unflattenZed(text: Column): Column = unflattenU(text)

  /** fields() of a BOXED value: a record member lists its value's leaf
    * paths, a type-value member its type's paths (function/fields.go).
    */
  private val fieldsVarU = udf((s: String, z: String) => {
    import ZValue._
    def valuePaths(fs: Vector[(String, ZValue)], prefix: Vector[String]): Vector[Vector[String]] =
      fs.flatMap { case (n, v) => unwrap(v) match {
        case VRec(sub) if sub.nonEmpty => valuePaths(sub, prefix :+ n)
        case _ => Vector(prefix :+ n)
      }}
    def typePaths(t: ZType, prefix: Vector[String]): Vector[Vector[String]] =
      ZType.strip(t) match {
        case ZType.Rec(fs) => fs.toVector.flatMap { case (n, ft) =>
          ZType.strip(ft) match {
            case _: ZType.Rec => typePaths(ft, prefix :+ n)
            case _ => Vector(prefix :+ n)
          }
        }
        case _ => Vector.empty
      }
    val paths: Vector[Vector[String]] =
      if (z != null) parse(z).map(unwrap) match {
        case Some(VRec(fs)) => valuePaths(fs, Vector.empty)
        case _ => Vector.empty
      }
      else if (s != null)
        try typePaths(ZsonParser.parseType(s), Vector.empty)
        catch { case _: Exception => Vector.empty }
      else Vector.empty
    if (paths.isEmpty) ZvOps.errMissing
    else zvOf(VArr(paths.map(p =>
      VArr(p.map(x => VStr(x): ZValue), isSet = false): ZValue), isSet = false))
  })

  def fieldsVar(v: Column): Column =
    fieldsVarU(v.getField("s"), Het.materialZ(v))

  /** Dereference a field of a TYPE VALUE: `foo` over <{foo:{bar:int64}}>
    * yields <{bar:int64}> (the reference's type-value deref,
    * expr/eval.go DotExpr on TypeOfType).
    */
  private val typeFieldU = udf((text: String, path: String) => {
    def walk(t: ZType, segs: List[String]): Option[ZType] = segs match {
      case Nil => Some(t)
      case s :: rest => ZType.strip(t) match {
        case ZType.Rec(fs) => fs.find(_._1 == s).flatMap(f => walk(f._2, rest))
        case _ => None
      }
    }
    if (text == null) errMissing
    else try walk(ZsonParser.parseType(text), path.split('.').toList) match {
      case Some(t) => zvOf(ZValue.VTypeVal(ZType.fullText(ZType.strip(t))))
      case None => errMissing
    } catch { case _: Exception => errMissing }
  })

  def typeField(v: Column, parts: Seq[String]): Column =
    typeFieldU(v, lit(parts.mkString(".")))

  /** zed slice `a[lo:hi]` over a boxed value (expr/eval.go sliceExpr):
    * strings slice by RUNES, bytes by bytes, arrays/sets by elements;
    * negative indexes count from the end; typed nulls pass through;
    * non-sliceable values and non-numeric indexes are the reference's
    * exact error values.
    */
  private val sliceU = udf((text: String, t: String, loS: String, hiS: String) => {
    import ZValue._
    def err(msg: String) = zvOf(VErr(VStr(msg)))
    def errOn(msg: String, on: ZValue) = zvOf(VErr(VRec(Vector(
      "message" -> VStr(msg), "on" -> on))))
    def num(s: String): Either[Boolean, Option[Int]] = // Left(true)=bad index
      if (s == null || s == "null") Right(None)
      else parse(s).map(unwrap) match {
        case Some(VInt(n, _)) => Right(Some(n.toInt))
        case Some(VUint64(n)) => Right(Some(n.toInt))
        case Some(VFloat(d, _)) if d == Math.floor(d) => Right(Some(d.toInt))
        case _ => Left(true)
      }
    val notSliceable = "sliced value is not array, set, bytes, or string"
    (num(loS), num(hiS)) match {
      case (Left(_), _) | (_, Left(_)) => err("slice index is not a number")
      case (Right(lo), Right(hi)) =>
        if (text == null) errOn(notSliceable, VNull(ZType.nullT))
        else if (text == "null") {
          // typed null slices to itself (sliceExpr null passthrough)
          val ty = try ZsonParser.parseType(Option(t).getOrElse("null"))
                   catch { case _: Exception => ZType.nullT }
          ZType.strip(ty) match {
            case ZType.Prim("bytes") | ZType.Prim("string") | ZType.Arr(_) |
                 ZType.SetT(_) => zvOf(VNull(ty))
            case _ => errOn(notSliceable, VNull(ty))
          }
        } else parse(text).map(unwrap) match {
          case Some(VStr(s)) =>
            val cps = s.codePoints().toArray
            val (a, b) = normSlice(lo, hi, cps.length)
            val sub = cps.slice(a, b)
            zvOf(VStr(new String(sub, 0, sub.length)))
          case Some(VBytes(bs)) =>
            val (a, b) = normSlice(lo, hi, bs.length)
            zvOf(VBytes(bs.slice(a, b)))
          case Some(VArr(items, isSet)) =>
            val (a, b) = normSlice(lo, hi, items.length)
            zvOf(VArr(items.slice(a, b), isSet))
          case Some(other) => errOn(notSliceable, other)
          case None => err(notSliceable)
        }
    }
  })

  private def normSlice(lo: Option[Int], hi: Option[Int], len: Int): (Int, Int) = {
    def n(i: Int) = { val x = if (i < 0) len + i else i; x.max(0).min(len) }
    val a = lo.map(n).getOrElse(0)
    val b = hi.map(n).getOrElse(len)
    (a, b.max(a))
  }

  def sliceZed(v: Column, loText: Column, hiText: Column): Column =
    sliceU(Het.render(v), v.getField("t"), loText, hiText)

  /** Array/set literal with spreads over boxed (union-typed) operands:
    * spread of an array/set splices its elements, spread of anything else
    * splices nothing (expr/eval.go VectorElemSpread); sets normalize.
    */
  private val vectorLitU = udf((texts: Seq[String], spreads: Seq[Boolean], isSet: Boolean) => {
    import ZValue._
    val items = Vector.newBuilder[ZValue]
    texts.zip(spreads).foreach { case (t, sp) =>
      if (t != null && t != "null") parse(t).foreach { v =>
        if (sp) unwrap(v) match {
          case VArr(es, _) => items ++= es
          case _ => // non-vector spread contributes nothing
        } else items += v
      }
    }
    val vs = items.result()
    zvOf(if (isSet) VArr(ZValue.normSet(vs), isSet = true)
         else VArr(vs, isSet = false))
  })

  def vectorLit(texts: Column, spreads: Column, isSet: Boolean): Column =
    vectorLitU(texts, spreads, lit(isSet))

  /** Compile a recursive-func call: args travel as ZSON text, the result
    * comes back as a variant value.
    */
  // ---- boxed lateral subqueries ---------------------------------------------
  // `(over x | …)` on a runtime-typed source: the element array is boxed
  // variants; each stage maps/filters through the row-level interpreter.
  // These run per element of ONE row — no distribution concern.

  private def evalOne(body: graft.lang.Expr, text: String): ZValue = {
    val v: ZValue =
      if (text == null) ZValue.VNull(ZType.nullT)
      else parse(text).getOrElse(ZValue.VStr(text))
    interp(Map.empty, body, Map("this" -> v), 0)
  }

  /** transform: each boxed element through `body` with `this` bound. */
  def mapBoxed(body: graft.lang.Expr, elems: Column): Column = {
    val u = udf((xs: Seq[String]) =>
      if (xs == null) Option.empty[Seq[Option[ZV]]]
      else Some(xs.map(x => zvOf(evalOne(body, x)))))
    u(transform(elems, x => Het.render(x)))
  }

  /** filter: keep boxed elements where `pred` evaluates to true. */
  def filterBoxed(pred: graft.lang.Expr, elems: Column): Column = {
    val u = udf((xs: Seq[String]) =>
      if (xs == null) Option.empty[Seq[Option[ZV]]]
      else Some(xs.flatMap { x =>
        ZValue.unwrap(evalOne(pred, x)) match {
          case ZValue.VBool(true) =>
            Some(zvOf(if (x == null) ZValue.VNull(ZType.nullT)
                      else parse(x).getOrElse(ZValue.VStr(x))))
          case _ => None
        }
      }))
    u(transform(elems, x => Het.render(x)))
  }

  /** collect: the boxed elements as ONE array value. */
  def collectBoxed(elems: Column): Column = {
    val u = udf((xs: Seq[String]) =>
      if (xs == null) Option.empty[ZV]
      else zvOf(ZValue.VArr(xs.toVector.map(x =>
        if (x == null) ZValue.VNull(ZType.nullT): ZValue
        else parse(x).getOrElse(ZValue.VStr(x))), isSet = false)))
    u(transform(elems, x => Het.render(x)))
  }

  /** subquery result: one element unwraps to the value, several form an
    * array value (expr-position over semantics).
    */
  def unwrapSingle(elems: Column): Column =
    when(org.apache.spark.sql.functions.size(elems) === 1,
      org.apache.spark.sql.functions.element_at(elems, 1))
      .otherwise(collectBoxed(elems))

  def recCall(name: String, table: Map[String, (Seq[String], graft.lang.Expr)],
      args: Seq[Column]): Column = {
    val u = udf((xs: Seq[String]) => {
      val vals = xs.map { x =>
        if (x == null) (ZValue.VNull(ZType.nullT): ZValue)
        else parse(x).getOrElse(ZValue.VStr(x))
      }
      val (params, body) = table(name)
      if (params.length != vals.length) errMissing
      else zvOf(interp(table, body, params.zip(vals).toMap, 0))
    })
    u(array(args: _*))
  }
}
