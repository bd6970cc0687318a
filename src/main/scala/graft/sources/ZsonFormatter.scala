package graft.sources

import scala.collection.mutable

/** Decorated ZSON text formatter — the output-boundary twin of the
  * canonical (undecorated) `ZValue.zsonText`.
  *
  * Reimplements the reference's zson/formatter.go semantics over graft's
  * ZValue/ZType model: a value is decorated with its type when the type is
  * not implied by the value's syntax; named types emit an inline typedef at
  * first use (`49562(port=uint16)`), abbreviate afterwards (`80(port)`),
  * and self-describing named values use the `(=name)` form; typed nulls
  * always decorate; empty containers decorate like nulls; union members
  * decorate individually (formatter.go formatUnion); a vector/map whose
  * union element set is not fully witnessed decorates the container
  * (formatter.go elemHelper.needsDecoration). Typedefs reset per top-level
  * value (formatter.go FormatRecord).
  *
  * Emits the FLAT form (no spaces); `ZFormat.prettyZson` re-inserts the
  * `-Z` layout including the space before decorators.
  */
final class ZsonFormatter {
  import ZType._
  import ZValue._

  private val sb = new StringBuilder
  private val typedefs = mutable.HashMap.empty[String, ZType]

  private def hasName(t: ZType): Boolean = t match {
    case Named(n, _) => typedefs.get(n).contains(t)
    case _ => false
  }

  private def nameOf(t: ZType): Option[String] = t match {
    case Named(n, _) if typedefs.get(n).contains(t) => Some(n)
    case _ => None
  }

  private def quotedTypeName(n: String): String = ZType.fieldName(n)

  private def isNullV(v: ZValue): Boolean = ZValue.unwrap(v) match {
    case VNull(_) => true
    case _ => false
  }

  def result: String = sb.toString

  /** Cross-value typedef persistence (zson writer -persist): drop the
    * typedefs whose names do NOT match, keep the rest for the next value.
    */
  def resetExcept(keep: String => Boolean): Unit =
    typedefs.filterInPlace((n, _) => keep(n))

  /** Format one top-level value, reusing this formatter's typedef state. */
  def formatNext(typ: ZType, v: ZValue): String = {
    sb.clear()
    formatValueAndDecorate(typ, v)
    result
  }

  def formatValueAndDecorate(typ0: ZType, v: ZValue): Unit = {
    val typ = selfTyped(typ0, v)
    val known = hasName(typ)
    formatValue(typ, v, known, ZType.implied(typ), dec = false)
    decorate(typ, known = false, isNull = isNullV(v))
  }

  /** A non-null value declared of the null type (a boxed value with no
    * static type) is typed by itself.
    */
  private def selfTyped(typ: ZType, v: ZValue): ZType =
    if (typ == ZType.nullT && !isNullV(v)) ZValue.typeOf(v) else typ

  /** formatter.go formatValue: renders v guided by typ; `dec` appends the
    * decorator afterwards. Returns the "renders as null" flag (typed null
    * or empty container) the caller's decorate needs.
    */
  private def formatValue(typ0: ZType, v0: ZValue,
      parentKnown: Boolean, parentImplied: Boolean, dec: Boolean): Unit = {
    val typ = selfTyped(typ0, v0)
    val known = parentKnown || hasName(typ)
    val v = ZValue.unwrap(v0)
    if (isNullV(v)) {
      sb.append("null")
      val pk = if (parentImplied) false else parentKnown
      if (dec) decorate(typ, pk, isNull = true)
      return
    }
    var nullish = false
    typ match {
      case Named(_, inner) =>
        formatValue(inner, v0, known, parentImplied, dec = false)
      // a type/value SHAPE mismatch (stale or unparseable type text) falls
      // back to the canonical undecorated text — the value is authoritative
      // and the type must not decorate it (early return skips the tail)
      case Rec(_) if !v.isInstanceOf[VRec] =>
        sb.append(ZValue.zsonText(v)); return
      case (Arr(_) | SetT(_)) if !v.isInstanceOf[VArr] =>
        sb.append(ZValue.zsonText(v)); return
      case MapT(_, _) if !v.isInstanceOf[VMap] =>
        sb.append(ZValue.zsonText(v)); return
      case Rec(tfs) => formatRecord(tfs, v, known, parentImplied)
      case Arr(et) => nullish = formatVector("[", "]", et, v, known, parentImplied)
      case SetT(et) => nullish = formatVector("|[", "]|", et, v, known, parentImplied)
      case u: Union => formatUnion(u, v0)
      case MapT(kt, vt) => nullish = formatMap(kt, vt, v, known, parentImplied)
      case EnumT(_) =>
        v match {
          case VEnum(s) => sb.append('%').append(s)
          case VStr(s) => sb.append('%').append(s)
          case other => sb.append(ZValue.zsonText(other))
        }
      case ErrT(it) =>
        sb.append("error(")
        v match {
          case VErr(inner) => formatValue(it, inner, known, parentImplied, dec = false)
          case other => formatValue(it, other, known, parentImplied, dec = false)
        }
        sb.append(')')
      case Prim("type") =>
        v match {
          case VTypeVal(t) => sb.append('<').append(t).append('>')
          case other => sb.append(ZValue.zsonText(other))
        }
      case _ => sb.append(ZValue.zsonText(v)) // scalar payload, canonical form
    }
    if (dec) decorate(typ, parentKnown, nullish)
  }

  /** formatter.go decorate. `known` short-circuits; implied types skip
    * unless rendering a null (typed nulls always decorate).
    */
  private def decorate(typ: ZType, known: Boolean, isNull: Boolean): Unit = {
    if (known || (!(isNull && typ != ZType.nullT) && ZType.implied(typ))) return
    nameOf(typ) match {
      case Some(n) =>
        sb.append('(').append(quotedTypeName(n)).append(')')
      case None =>
        if (ZType.selfDescribing(typ) && !isNull) typ match {
          case nm @ Named(n, _) =>
            typedefs(n) = nm
            sb.append("(=").append(quotedTypeName(n)).append(')')
          case _ => () // non-named self-describing: no decorator needed
        } else {
          sb.append('(')
          formatType(typ)
          sb.append(')')
        }
    }
  }

  private def formatRecord(tfs: Vector[(String, ZType)], v: ZValue,
      known: Boolean, parentImplied: Boolean): Unit = {
    val fs = v match {
      case VRec(fields) => fields
      case _ => Vector.empty
    }
    sb.append('{')
    var first = true
    val byName = fs.toMap
    tfs.foreach { case (n, ft) =>
      byName.get(n).orElse(
        // positional fallback (renamed field, same slot)
        if (fs.length == tfs.length) Some(fs(tfs.indexWhere(_._1 == n))._2) else None
      ).foreach { fv =>
        if (!first) sb.append(',')
        first = false
        sb.append(ZType.fieldName(n)).append(':')
        formatValue(ft, fv, known, parentImplied, dec = true)
      }
    }
    // value fields the type doesn't know (operator-added): self-typed
    val tNames = tfs.map(_._1).toSet
    fs.foreach { case (n, fv) =>
      if (!tNames.contains(n)) {
        if (!first) sb.append(',')
        first = false
        sb.append(ZType.fieldName(n)).append(':')
        val ft = ZValue.typeOf(fv)
        formatValue(ft, fv, parentKnown = false, ZType.implied(ft), dec = true)
      }
    }
    sb.append('}')
  }

  /** Returns true when the container rendered "like null" (empty — its
    * type can't be implied from the value, formatter.go formatVector).
    */
  private def formatVector(open: String, close: String, elemT: ZType,
      v: ZValue, known: Boolean, parentImplied: Boolean): Boolean = {
    val items = v match {
      case VArr(is, _) => is
      case _ => Vector.empty
    }
    sb.append(open)
    if (items.isEmpty) { sb.append(close); return true }
    val elems = new ElemHelper(elemT)
    var first = true
    items.foreach { item =>
      if (!first) sb.append(',')
      first = false
      val (t, iv) = elems.add(item)
      formatValue(t, iv, known, parentImplied, dec = true)
    }
    sb.append(close)
    if (elems.needsDecoration) decorate(typOf(v, elemT, isSet = open == "|["),
      known = false, isNull = true)
    false
  }

  private def typOf(v: ZValue, elemT: ZType, isSet: Boolean): ZType =
    if (isSet) SetT(elemT) else Arr(elemT)

  private def formatMap(kt: ZType, vt: ZType, v: ZValue,
      known: Boolean, parentImplied: Boolean): Boolean = {
    val entries = v match {
      case VMap(es) => es
      case _ => Vector.empty
    }
    sb.append("|{")
    val keyElems = new ElemHelper(kt)
    val valElems = new ElemHelper(vt)
    var first = true
    entries.foreach { case (k, mv) =>
      if (!first) sb.append(',')
      first = false
      val (ktyp, kv) = keyElems.add(k)
      val keyStart = sb.length
      formatValue(ktyp, kv, known, parentImplied, dec = true)
      // IPv6 key: whitespace before the separating colon (formatter.go)
      if (sb.length > keyStart && sb.charAt(sb.length - 1) == ':') sb.append(' ')
      sb.append(':')
      val (vtyp, vv) = valElems.add(mv)
      formatValue(vtyp, vv, known, parentImplied, dec = true)
    }
    sb.append("}|")
    if (keyElems.needsDecoration || valElems.needsDecoration)
      decorate(MapT(kt, vt), known = false, isNull = true)
    entries.isEmpty
  }

  /** formatter.go formatUnion: the member always formats as its own type
    * (known=false, parentImplied=true) so non-implied members decorate.
    */
  private def formatUnion(u: Union, v0: ZValue): Unit = {
    // a boxed member may carry the UNION as its VTyped type — unwrap until
    // the value's own type is a member type, else typeOf would hand the
    // union back and recurse forever
    val v = unwrapUnionTyped(v0)
    val memberT = unionMember(u, v)
    if (ZType.strip(memberT) == u)
      sb.append(ZValue.zsonText(v)) // unresolvable: canonical, undecorated
    else
      formatValue(memberT, v, parentKnown = false, parentImplied = true, dec = true)
  }

  /** Strip VTyped wrappers whose type is (or strips to) a union — the
    * member value underneath carries the member type.
    */
  private def unwrapUnionTyped(v: ZValue): ZValue = v match {
    case VTyped(i, t) if ZType.strip(t).isInstanceOf[Union] => unwrapUnionTyped(i)
    case other => other
  }

  /** Resolve a value to its union member type: exact typeOf match first,
    * else the member the value's type text equals after stripping, else
    * the value's own type (decorating with it keeps the text parseable).
    */
  private def unionMember(u: Union, v: ZValue): ZType = {
    if (isNullV(v)) return ZType.nullT // null member renders undecorated
    val vt = ZValue.typeOf(v)
    if (u.alts.contains(vt)) return vt
    val vtText = ZType.fullText(vt)
    u.alts.find(a => ZType.fullText(a) == vtText)
      .orElse(u.alts.find(a => ZType.fullText(ZType.strip(a)) == vtText))
      // a NESTED union member that can represent the value claims it
      // (formatter.go formats by tag; the canonical text lost the tag, so
      // exact nested membership is the faithful reconstruction)
      .orElse(u.alts.find(a => ZType.strip(a) match {
        case inner: Union => inner.alts.exists(m =>
          ZType.fullText(ZType.strip(m)) == vtText)
        case _ => false
      }))
      .getOrElse(vt)
  }

  /** formatter.go (f *Formatter) formatType: embedded typedefs for names
    * not yet defined; known names abbreviate.
    */
  private def formatType(typ: ZType): Unit = {
    nameOf(typ) match {
      case Some(n) => sb.append(n); return
      case None =>
    }
    typ match {
      case nm @ Named(n, inner) =>
        typedefs(n) = nm
        sb.append(quotedTypeName(n)).append('=')
        formatType(inner)
      case Prim(n) => sb.append(n)
      case Rec(fs) =>
        sb.append('{')
        var first = true
        fs.foreach { case (n, ft) =>
          if (!first) sb.append(',')
          first = false
          sb.append(ZType.fieldName(n)).append(':')
          formatType(ft)
        }
        sb.append('}')
      case Arr(e) => sb.append('['); formatType(e); sb.append(']')
      case SetT(e) => sb.append("|["); formatType(e); sb.append("]|")
      case MapT(k, v) =>
        sb.append("|{"); formatType(k); sb.append(':'); formatType(v); sb.append("}|")
      case Union(alts) =>
        sb.append('(')
        var first = true
        alts.foreach { a =>
          if (!first) sb.append(',')
          first = false
          formatType(a)
        }
        sb.append(')')
      case EnumT(syms) =>
        sb.append("enum(").append(syms.map(ZType.fieldName).mkString(",")).append(')')
      case ErrT(i) => sb.append("error("); formatType(i); sb.append(')')
    }
  }

  /** formatter.go elemHelper: tracks which union members a vector/map
    * witnessed; unwitnessed members force a container decorator.
    */
  private final class ElemHelper(elemT: ZType) {
    private val union: Option[Union] = ZType.strip(elemT) match {
      case u: Union => Some(u)
      case _ => None
    }
    private val seen = mutable.HashSet.empty[ZType]
    def add(v0: ZValue): (ZType, ZValue) = union match {
      case None => (elemT, v0)
      case Some(u) =>
        val v = unwrapUnionTyped(v0)
        if (isNullV(v)) {
          // a null TAGGED with a member type witnesses that member and
          // decorates (null(string)); a null of the union itself renders
          // bare (elemHelper.add: nil bytes → TypeNull)
          val member = (v match {
            case ZValue.VNull(t0) => Some(t0)
            case ZValue.VTyped(_, t0) => Some(t0)
            case _ => None
          }).filter(t0 => ZType.strip(t0) != ZType.nullT)
            .flatMap(t0 => u.alts.find(a =>
              a == t0 || ZType.strip(a) == ZType.strip(t0)))
          member match {
            case Some(m) if ZType.strip(m) != ZType.nullT =>
              seen += m; (m, v)
            case _ => (ZType.nullT, v)
          }
        } else {
          val t = unionMember(u, v)
          seen += t
          (t, v)
        }
    }
    def needsDecoration: Boolean = union.exists { u =>
      elemT.isInstanceOf[Named] || seen.size < u.alts.length
    }
  }
}

object ZsonFormatter {

  def format(typ: ZType, v: ZValue): String = {
    val f = new ZsonFormatter
    f.formatValueAndDecorate(typ, v)
    f.result
  }
}
