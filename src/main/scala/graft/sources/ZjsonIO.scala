package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** ZJSON — the JSON encoding of the full data model for browsers
  * (reference: docs/formats/zjson.md, zio/zjsonio/).
  *
  * Each NDJSON line is `{"type":<type>,"value":<nested string arrays>}`;
  * the first value in a stream carries the full type tree (ids from 30),
  * subsequent values use `{"kind":"ref","id":N}`. Record/array values are
  * JSON arrays; primitives are strings in their ZSON form.
  *
  * Writer: every frame, tagged or not, encodes through one typed writer
  * (zio/zjsonio/writer.go): each row converts to a zed value against its
  * shape and column markers, and a per-stream type encoder assigns the
  * ids — distributed per partition for files, one stream for the CLI and
  * the service. Reader: each file decodes as one stream, one task per
  * file (type ids are defined once per stream): per-line Jackson decode
  * (same row-wise cost class as the reference's zjsonio) into ZSON text,
  * then a typed parse into the shared tagged/variant frame
  * (ZsonReader.fromRDD) — no driver materialization.
  */
object ZjsonIO extends Serializable {

  private[sources] def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "\""

  /** One self-describing typed stream per written file (see typedStream). */
  def write(df: DataFrame, path: String): Unit =
    typedStream(df).write.mode("overwrite").text(path)

  // ---- typed writer (zio/zjsonio/writer.go) ----------------------------------

  /** Per-stream type encoder: complex types get ids from 30 in
    * first-encounter order with children before parents (mirroring the
    * reference writer's zed.Context creation order, writer.go:61-90 +
    * types.go newType); later encounters emit {"kind":"ref","id":N}.
    */
  final class TypeEncoder extends Serializable {
    private val ids = scala.collection.mutable.Map.empty[String, Int]
    private var next = 30

    private def q(s: String): String = ZjsonIO.quote(s)

    def encode(t: ZType): String = t match {
      case ZType.Prim(p) => s"""{"kind":"primitive","name":"$p"}"""
      case other =>
        val key = ZType.fullText(other)
        ids.get(key) match {
          case Some(id) => s"""{"kind":"ref","id":$id}"""
          case None =>
            val body = other match {
              case ZType.Rec(fs) =>
                val enc = fs.map { case (n, ft) => s"""{"name":${q(n)},"type":${encode(ft)}}""" }
                val id = alloc(key)
                s"""{"kind":"record","id":$id,"fields":[${enc.mkString(",")}]}"""
              case ZType.Arr(e) =>
                val inner = encode(e); val id = alloc(key)
                s"""{"kind":"array","id":$id,"type":$inner}"""
              case ZType.SetT(e) =>
                val inner = encode(e); val id = alloc(key)
                s"""{"kind":"set","id":$id,"type":$inner}"""
              case ZType.MapT(k, v) =>
                val ek = encode(k); val ev = encode(v); val id = alloc(key)
                s"""{"kind":"map","id":$id,"key_type":$ek,"val_type":$ev}"""
              case ZType.Union(alts) =>
                val sorted = alts.sortWith((a, b) => ZValue.compareZTypes(a, b) < 0)
                val enc = sorted.map(encode)
                val id = alloc(key)
                s"""{"kind":"union","id":$id,"types":[${enc.mkString(",")}]}"""
              case ZType.EnumT(symbols) =>
                val id = alloc(key)
                s"""{"kind":"enum","id":$id,"symbols":[${symbols.map(q).mkString(",")}]}"""
              case ZType.ErrT(inner) =>
                val ei = encode(inner); val id = alloc(key)
                s"""{"kind":"error","id":$id,"type":$ei}"""
              case ZType.Named(name, inner) =>
                val ei = encode(inner); val id = alloc(key)
                s"""{"kind":"named","id":$id,"name":${q(name)},"type":$ei}"""
              case ZType.Prim(_) => "" // unreachable
            }
            body
        }
    }

    private def alloc(key: String): Int = {
      val id = next; next += 1; ids(key) = id; id
    }
  }

  /** One value's zjson VALUE encoding, driven by its type (writer.go
    * encodeValue): records/arrays/maps as nested arrays, unions as
    * [tag, value] with the tag indexing the sorted member list,
    * enums as symbol indexes, primitives as zson-formed strings, and
    * type values as embedded type trees.
    */
  private def valueJson(v0: ZValue, t0: ZType, enc: TypeEncoder): String = {
    import ZValue._
    val v = unwrap(v0)
    v match {
      case VNull(_) => return "null"
      case _ =>
    }
    ZType.strip(t0) match {
      case ZType.Rec(tfs) => v match {
        case VRec(fs) =>
          tfs.map { case (n, ft) =>
            fs.find(_._1 == n) match {
              case Some((_, fv)) => valueJson(fv, ft, enc)
              case None => "null"
            }
          }.mkString("[", ",", "]")
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.Arr(et) => v match {
        case VArr(items, _) => items.map(valueJson(_, et, enc)).mkString("[", ",", "]")
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.SetT(et) => v match {
        case VArr(items, _) => items.map(valueJson(_, et, enc)).mkString("[", ",", "]")
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.MapT(kt, vt) => v match {
        case VMap(es) => es.map { case (k, x) =>
          s"[${valueJson(k, kt, enc)},${valueJson(x, vt, enc)}]"
        }.mkString("[", ",", "]")
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.Union(alts) =>
        val sorted = alts.sortWith((a, b) => ZValue.compareZTypes(a, b) < 0)
        val vt = typeOf(v)
        var sel = sorted.indexWhere(a => ZValue.compareZTypes(a, vt) == 0)
        var mv: ZValue = v
        if (sel < 0) {
          // no direct member: fit via the parser's union application (the
          // analyzer's convertUnion rules — exact/nested membership before
          // lossy coercion; e.g. 123(int32)((int32,string))((…)) reaches
          // the nested union member, selector pair ["3",["0","123"]])
          val fitter = new ZsonParser("")
          try fitter.applyTypePublic(v, ZType.Union(sorted.toVector)) match {
            case ZValue.VTyped(fitted, _) =>
              val ft = typeOf(fitted)
              val k = sorted.indexWhere(a => ZValue.compareZTypes(a, ft) == 0)
              if (k >= 0) { sel = k; mv = fitted }
            case _ =>
          } catch { case _: Exception => }
        }
        val (idx, mt) = if (sel >= 0) (sel, sorted(sel)) else (0, sorted.head)
        s"""["$idx",${valueJson(mv, mt, enc)}]"""
      case ZType.EnumT(symbols) => v match {
        case VEnum(s) =>
          val idx = symbols.indexOf(s)
          "\"" + (if (idx >= 0) idx else 0).toString + "\""
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.ErrT(inner) => v match {
        case VErr(p) => valueJson(p, inner, enc)
        case other => valueJson(other, inner, enc)
      }
      case ZType.Prim("type") => v match {
        case VTypeVal(text) =>
          try enc.encode(ZsonParser.parseType(text))
          catch { case _: Exception => quote(text) }
        case other => quote(ZValue.zsonText(other))
      }
      case ZType.Prim("string") => v match {
        case VStr(s) => quote(s)
        case other => quote(ZValue.zsonText(other))
      }
      case _ => v match {
        case VEnum(s) => quote(s) // enum value typed loosely
        case other => quote(ZValue.zsonText(other))
      }
    }
  }

  /** One zjson line for a typed value within a stream's encoder. */
  def lineOf(v: ZValue, enc: TypeEncoder): String = {
    val t = ZValue.typeOf(v)
    // encode the type BEFORE the value so embedded type values allocate
    // later ids (writer.go:78-80 keeps this order)
    val tJson = enc.encode(t)
    val vJson = valueJson(v, t, enc)
    s"""{"type":$tJson,"value":$vJson}"""
  }

  /** Typed zjson output: one self-describing stream per partition (ids
    * restart per file, each file is a legal stream) — distributed.
    */
  def typedStream(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    val fn = ZFormat.rowValueFn(df.schema)
    df.mapPartitions { it =>
      val enc = new TypeEncoder
      it.map(r => lineOf(fn(r), enc))
    }
  }

  /** Single-stream typed zjson lines (driver-side; golden harness/CLI). */
  def typedLines(df: DataFrame): Seq[String] = typedIter(df).toSeq

  /** Incremental form of [[typedLines]] (toLocalIterator): lets the
    * service stream a large zjson response chunked instead of building
    * the whole body on the driver.
    */
  def typedIter(df: DataFrame): Iterator[String] = {
    val fn = ZFormat.rowValueFn(df.schema)
    val enc = new TypeEncoder
    val it = df.toLocalIterator()
    new Iterator[String] {
      def hasNext: Boolean = it.hasNext
      def next(): String = lineOf(fn(it.next()), enc)
    }
  }

  // ---- reader ----------------------------------------------------------------

  private type TypeMap = scala.collection.Map[Int, JsonNode]

  /** Resolve a (possibly ref) type node against the stream's id table. */
  private def deref(t: JsonNode, types: TypeMap): JsonNode =
    if (t.get("kind").asText() == "ref") types(t.get("id").asInt()) else t

  /** zson primitive types whose bare text does not imply them — values
    * need a decorator on re-emission to keep exact widths.
    */
  private val nonImplied = Set(
    "int8", "int16", "int32", "uint8", "uint16", "uint32", "uint64",
    "float16", "float32", "decimal")

  /** Union members in zed's canonical order (LookupTypeUnion sorts by
    * CompareTypes, context.go:200-203); zjson selectors index THAT order,
    * not the declared order of a hand-written type tree.
    */
  private def sortedMembers(t: JsonNode, types: TypeMap): Seq[JsonNode] = {
    val ts = t.get("types")
    (0 until ts.size()).map(i => deref(ts.get(i), types))
      .sortWith { (a, b) =>
        val za = ZsonParser.parseType(typeText(a, types))
        val zb = ZsonParser.parseType(typeText(b, types))
        ZValue.compareZTypes(za, zb) < 0
      }
  }

  /** Convert one decoded (typeNode, valueNode) pair to ZSON text. */
  private def toZson(t0: JsonNode, v: JsonNode, types: TypeMap): String = {
    val t = deref(t0, types)
    if (v == null || v.isNull) {
      // typed nulls ALWAYS keep their type via a decorator (the zjson
      // stream carries complete types; the zson re-parse must too)
      val kind = t.get("kind").asText()
      return kind match {
        case "primitive" if t.get("name").asText() == "null" => "null"
        case _ => s"null(${typeText(t, types)})"
      }
    }
    t.get("kind").asText() match {
      case "record" =>
        val fields = t.get("fields")
        val parts = (0 until fields.size()).map { i =>
          val f = fields.get(i)
          s"${f.get("name").asText()}:${toZson(f.get("type"), v.get(i), types)}"
        }
        parts.mkString("{", ",", "}")
      case kind @ ("array" | "set") =>
        val (open, close) = if (kind == "set") ("|[", "]|") else ("[", "]")
        val body = (0 until v.size()).map(i => toZson(t.get("type"), v.get(i), types))
          .mkString(open, ",", close)
        // null/empty elements can't imply the element type — decorate the
        // container so the re-parse keeps it (formatter.go elemHelper)
        val anyNull = (0 until v.size()).exists(i =>
          v.get(i) == null || v.get(i).isNull)
        if (v.size() == 0 || anyNull) s"$body(${typeText(t, types)})" else body
      case "map" =>
        val body = (0 until v.size()).map { i =>
          val kv = v.get(i)
          s"${toZson(t.get("key_type"), kv.get(0), types)}:${toZson(t.get("val_type"), kv.get(1), types)}"
        }.mkString("|{", ",", "}|")
        val anyNull = (0 until v.size()).exists { i =>
          val kv = v.get(i)
          kv.get(0) == null || kv.get(0).isNull || kv.get(1) == null || kv.get(1).isNull
        }
        if (v.size() == 0 || anyNull) s"$body(${typeText(t, types)})" else body
      case "primitive" =>
        t.get("name").asText() match {
          case "type" if v.isObject =>
            // a TYPE VALUE embeds its type tree as the value (zjson.md)
            s"<${typeText(v, types)}>"
          case "string" =>
            "\"" + v.asText().replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          case p if nonImplied(p) => s"${v.asText()}($p)" // keep exact width
          case _ => v.asText() // int64/float64, bools, times are ZSON-formed
        }
      case "union" =>
        // value is ["<member index>", <member value>] (zjson.md unions);
        // the index is into the SORTED member list
        val sel = v.get(0).asText().toInt
        val member = sortedMembers(t, types)(sel)
        s"${toZson(member, v.get(1), types)}(${typeText(t, types)})"
      case "named" =>
        s"${toZson(t.get("type"), v, types)}(${typeText(t, types)})"
      case "error" => s"error(${toZson(t.get("type"), v, types)})"
      case "enum" =>
        // the value is the symbol INDEX in zson primitive form; an enum's
        // symbol never implies the full type — always decorate
        val ss = t.get("symbols")
        val idx = try v.asText().toInt catch { case _: Exception => -1 }
        val sym = if (idx >= 0 && idx < ss.size()) ss.get(idx).asText() else v.asText()
        s"%$sym(${typeText(t, types)})"
      case other => throw new IllegalArgumentException(s"zjson: kind $other")
    }
  }

  /** zed type text of a zjson type node (for union decorators). */
  private def typeText(t0: JsonNode, types: TypeMap): String = {
    val t = deref(t0, types)
    t.get("kind").asText() match {
      case "primitive" => t.get("name").asText()
      case "record" =>
        val fs = t.get("fields")
        (0 until fs.size()).map { i =>
          val f = fs.get(i)
          s"${f.get("name").asText()}:${typeText(f.get("type"), types)}"
        }.mkString("{", ",", "}")
      case "array" => s"[${typeText(t.get("type"), types)}]"
      case "set" => s"|[${typeText(t.get("type"), types)}]|"
      case "map" => s"|{${typeText(t.get("key_type"), types)}:${typeText(t.get("val_type"), types)}}|"
      case "union" =>
        sortedMembers(t, types).map(m => typeText(m, types)).mkString("(", ",", ")")
      case "named" => s"${t.get("name").asText()}=${typeText(t.get("type"), types)}"
      case "error" => s"error(${typeText(t.get("type"), types)})"
      case "enum" =>
        val ss = t.get("symbols")
        (0 until ss.size()).map(i => ss.get(i).asText()).mkString("enum(", ",", ")")
      case _ => "string"
    }
  }

  /** Each file decodes as one stream, one task per file: a `ref` may
    * name a type id defined any number of lines before it, so a text
    * split of the file cannot decode on its own.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    ZsonReader.fromRDD(spark, ZsonIO.perFile(spark, path)(text =>
      ZsonIO.parseLineIter(zsonLines(text.linesIterator.filter(_.trim.nonEmpty)))))

  /** One stream's ZJSON lines as ZSON text, the type ids in force carried
    * from line to line.
    */
  private def zsonLines(it: Iterator[String]): Iterator[String] = {
    val mapper = new ObjectMapper()
    val typesById = scala.collection.mutable.Map.empty[Int, JsonNode]
    def register(t: JsonNode): Unit = {
      if (t.get("kind").asText() == "ref") return // refs don't (re)define ids
      if (t.has("id")) typesById(t.get("id").asInt()) = t
      if (t.has("fields")) {
        val fs = t.get("fields")
        (0 until fs.size()).foreach(i => register(fs.get(i).get("type")))
      }
      if (t.has("types")) { // union members
        val ts = t.get("types")
        (0 until ts.size()).foreach(i => register(ts.get(i)))
      }
      if (t.has("key_type")) register(t.get("key_type"))
      if (t.has("val_type")) register(t.get("val_type"))
      if (t.has("type")) register(t.get("type"))
    }
    it.map { line =>
      val node = mapper.readTree(line)
      var t = node.get("type")
      if (t != null && t.isTextual)
        // control message ({"type":"QueryChannelEnd",...}): surfaces as
        // a plain record value, like reading the json as data
        JsonIO.parse(line).map(ZValue.zsonText).mkString(" ")
      else {
        if (t.get("kind").asText() == "ref") t = typesById(t.get("id").asInt())
        else register(t)
        toZson(t, node.get("value"), typesById)
      }
    }
  }
}
