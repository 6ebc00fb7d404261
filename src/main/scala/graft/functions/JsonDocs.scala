package graft.functions

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Raw-document JSON kernels for the schemaless merge path.
  *
  * The reference's document model is schemaless JSON: it never declares a
  * schema, diffs Python-parsed dicts after stripping Cosmos system fields
  * (/root/reference/src/migration.py:119-130, 214-227), and writes documents
  * back exactly as it read them. `spark.read.json` schema inference cannot
  * reproduce that contract — inference retypes (`1.0` → `1`), widens
  * mixed-type fields to strings, and loses key order — so the merge path
  * carries each document as its RAW JSON line and uses these kernels for the
  * three places structure is actually needed:
  *
  *   - [[JsonDocs.canon]]: canonical content form for diffing. Mirrors the
  *     reference's post-strip dict equality (migration.py:124-130): system
  *     fields removed at EVERY depth (the B2 fix — the reference's recursion
  *     skips dicts inside lists), object keys sorted (Python dict equality is
  *     order-blind), numbers compared by numeric value (Python `1 == 1.0`).
  *     Malformed JSON canonicalizes to null, which the merge classifies as an
  *     'error' row — the per-document error channel (migration.py:92-97).
  *   - [[JsonDocs.pkValue]]: partition-key extraction by dict-only path
  *     traversal (migration.py:24-39), returning the canonical scalar string
  *     (so `1.0` and `1` join as the same key, as Python value equality
  *     would); null for missing / object / array values, "" for empty string
  *     — the two invalid shapes (migration.py:101-109).
  *   - [[JsonDocs.injectPk]]: the reference's pre-write body fix-up
  *     (migration.py:112-114) — if the literal top-level key for a pk path is
  *     absent, it is set to the traversed value. Documents that need no
  *     injection are returned byte-identical (fidelity is only relaxed for
  *     documents the reference itself would mutate).
  *   - [[JsonDocs.mask]]: the sanitize branch (migration.py:131-136,
  *     sanitizer.py:41-63) for raw documents — field-NAME-driven recursive
  *     replacement with the same deterministic templates as the column-based
  *     [[Masking]] (masked value = pure function of the original via its
  *     md5), so both surfaces mask identically.
  *
  * All four are per-row string kernels with no shuffle; the expressions stay
  * inside whole-stage codegen (one static call per row, like
  * [[WordShingles]]), so at 100 TB the merge diff is still a codegen'd
  * Project over the scan.
  */
object JsonDocs {

  /** Cosmos-maintained fields excluded from content comparison
    * (/root/reference/src/migration.py:218-221). */
  val SystemFields: Set[String] = Set("_etag", "_rid", "_self", "_ts")

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    // numbers as BigDecimal/BigInteger: value-exact, so canon can normalize
    // by numeric value instead of double bit patterns
    m.configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)
    m.configure(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS, true)
    // a truncated line with trailing garbage is corrupt, not "first value"
    m.configure(DeserializationFeature.FAIL_ON_TRAILING_TOKENS, true)
    m
  }

  private def parse(raw: UTF8String): JsonNode =
    try {
      val n = mapper.readTree(raw.toString)
      if (n == null || n.isMissingNode) null else n
    } catch { case NonFatal(_) => null }

  /** Canonical numeric rendering: value-equal numbers render equal
    * (1 == 1.0 == 1.00 == 1e0, as in Python dict equality). */
  private def normNum(n: JsonNode): String = {
    val d = n.decimalValue()
    if (d.compareTo(java.math.BigDecimal.ZERO) == 0) "0"
    else d.stripTrailingZeros().toPlainString
  }

  /** `dropNulls` renders object entries whose value is JSON null as ABSENT —
    * used ONLY for container-PII template seeds, where it makes "field
    * absent" and "field null" seed identically. The column surface sees the
    * schema-UNION of a heterogeneous container (absent fields surface as
    * nulls), so a null-keeping render would seed the two surfaces
    * differently for documents that lack a field some other document has.
    * The merge diff ([[canon]]) keeps nulls: `{"a":null}` and `{}` are
    * different documents (Python dict equality), just not different PII
    * seeds. */
  private def render(n: JsonNode, sb: java.lang.StringBuilder,
                     dropNulls: Boolean = false): Unit =
    if (n.isObject) {
      sb.append('{')
      val names = new java.util.ArrayList[String]()
      val it = n.fieldNames()
      while (it.hasNext) {
        val f = it.next()
        if (!SystemFields.contains(f) && !(dropNulls && n.get(f).isNull))
          names.add(f)
      }
      java.util.Collections.sort(names)
      var i = 0
      while (i < names.size()) {
        if (i > 0) sb.append(',')
        appendString(names.get(i), sb)
        sb.append(':')
        render(n.get(names.get(i)), sb, dropNulls)
        i += 1
      }
      sb.append('}')
    } else if (n.isArray) {
      sb.append('[')
      var i = 0
      while (i < n.size()) {
        if (i > 0) sb.append(',')
        render(n.get(i), sb, dropNulls) // array NULL ELEMENTS render on both surfaces
        i += 1
      }
      sb.append(']')
    } else if (n.isTextual) appendString(n.textValue(), sb)
    else if (n.isNumber) sb.append(normNum(n))
    else if (n.isBoolean) sb.append(if (n.booleanValue()) "true" else "false")
    else sb.append("null") // null / binary-less value nodes

  private def appendString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    sb.append(JsonStringEncoder.getInstance().quoteAsString(s))
    sb.append('"')
  }

  /** Canonical content form of a raw JSON document; null for malformed
    * input. Idempotent; key-order- and number-format-invariant; system
    * fields stripped at every depth. */
  def canon(raw: UTF8String): UTF8String = {
    val node = parse(raw)
    if (node == null) null
    else {
      val sb = new java.lang.StringBuilder(raw.numBytes())
      render(node, sb)
      UTF8String.fromString(sb.toString)
    }
  }

  /** Dict-only traversal of a '/'-separated pk path
    * (migration.py:29-34: `.get` per segment, stop at null). */
  private def traverse(node: JsonNode, path: String): JsonNode = {
    var cur = node
    val segs = path.split("/")
    var i = 0
    while (i < segs.length && cur != null) {
      cur = if (cur.isObject) cur.get(segs(i)) else null
      i += 1
    }
    cur
  }

  /** Canonical scalar string of the pk value at `path`; null when the doc is
    * malformed or the value is missing / null / object / array (the invalid
    * shapes, migration.py:101-109). Empty string comes back as "" so the
    * caller's non-empty check rejects it, like the reference's `pk in [""]`. */
  def pkValue(raw: UTF8String, path: String): UTF8String = {
    val node = parse(raw)
    if (node == null) return null
    val v = traverse(node, path)
    if (v == null || v.isNull || v.isContainerNode) null
    else if (v.isTextual) UTF8String.fromString(v.textValue())
    else if (v.isNumber) UTF8String.fromString(normNum(v))
    else if (v.isBoolean) UTF8String.fromString(if (v.booleanValue()) "true" else "false")
    else null
  }

  /** The reference's pre-write body fix-up (migration.py:112-114): for each
    * pk path whose LITERAL top-level key is absent, set it to the traversed
    * value (the reference uses the raw path string as the key — relevant only
    * for hierarchical paths). Returns the input unchanged (same bytes) when
    * nothing needs injecting; null for malformed input. */
  def injectPk(raw: UTF8String, paths: Array[String]): UTF8String = {
    val node = parse(raw)
    if (node == null) return null
    node match {
      case obj: ObjectNode =>
        var changed = false
        var i = 0
        while (i < paths.length) {
          val p = paths(i)
          if (!obj.has(p)) {
            val v = traverse(obj, p)
            if (v != null && !v.isNull && !v.isContainerNode) {
              obj.set[JsonNode](p, v)
              changed = true
            }
          }
          i += 1
        }
        if (!changed) raw
        else UTF8String.fromString(mapper.writeValueAsString(obj))
      case _ => raw
    }
  }

  /** Parse-once kernel for the merge path: one Jackson parse yields the
    * write form (pk-injected), the id, and every pk value together. The
    * individual kernels ([[pkValue]], [[injectPk]]) each re-parse the
    * document; after Catalyst pushes the validity predicates into the scan
    * and collapses projections, that multiplies into ~8 parses per row —
    * this kernel brings it to one per operator (codegen subexpression
    * elimination collapses the repeated struct-field accesses to a single
    * call). The canonical-content hash is deliberately NOT part of this
    * kernel: validity predicates get pushed into the scan, and bundling the
    * canonical render would make every pushed predicate pay for it
    * (measured 2× on the merge queries) — the hash belongs in the
    * projection above, where it runs once per surviving row. Returns null
    * for malformed input (the 'error' channel); fields: w, id, pk0..pkN.
    *
    * `inject` distinguishes the two merge sides: the SOURCE compares and
    * writes its post-injection form (migration.py:112-114 mutates `item`
    * before the diff), the TARGET is compared exactly as stored. */
  def docKeys(raw: UTF8String, paths: Array[String],
              inject: Boolean): Array[UTF8String] = {
    val node = parse(raw)
    if (node == null) return null
    var w = raw
    if (inject) node match {
      case obj: ObjectNode =>
        var changed = false
        var i = 0
        while (i < paths.length) {
          val p = paths(i)
          if (!obj.has(p)) {
            val v = traverse(obj, p)
            if (v != null && !v.isNull && !v.isContainerNode) {
              obj.set[JsonNode](p, v)
              changed = true
            }
          }
          i += 1
        }
        if (changed) w = UTF8String.fromString(mapper.writeValueAsString(obj))
      case _ => ()
    }
    def scalarOf(v: JsonNode): UTF8String =
      if (v == null || v.isNull || v.isContainerNode) null
      else if (v.isTextual) UTF8String.fromString(v.textValue())
      else if (v.isNumber) UTF8String.fromString(normNum(v))
      else if (v.isBoolean) UTF8String.fromString(if (v.booleanValue()) "true" else "false")
      else null
    val out = new Array[UTF8String](2 + paths.length)
    out(0) = w
    // the reference's `if not item_id` (migration.py:92-93) rejects
    // PYTHON-FALSY ids — None, "", 0, 0.0, False — not just missing/empty
    // strings; canonicalizing 0 to "0" would silently validate them. Falsy
    // ids come back null so the validity predicate classifies the document
    // as an error. (The pk check, migration.py:101, is `in ["", None]` — 0
    // and False are VALID pk values, so scalarOf stays unchanged for pks.)
    val idNode = node.get("id")
    out(1) =
      if (idNode != null &&
          ((idNode.isNumber && idNode.decimalValue().signum == 0) ||
            (idNode.isBoolean && !idNode.booleanValue()))) null
      else scalarOf(idNode)
    var i = 0
    while (i < paths.length) {
      out(2 + i) = scalarOf(traverse(node, paths(i)))
      i += 1
    }
    out
  }

  // ---- deterministic masking over raw JSON (sanitizer.py semantics) ----

  private def md5hex(s: String): String = {
    val d = SketchSignatures.md5().digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  private def seed(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
  private def hex(s: String, n: Int): String = md5hex(s).substring(0, n)
  private def digits(s: String, n: Int): String = {
    val m = math.pow(10, n).toLong
    val v = (seed(s) % m).toString
    ("0" * (n - v.length)) + v
  }

  /** String form of the original value that seeds the mask — matches the
    * column templates' `CAST(x AS STRING)` for strings and integers; floats
    * use Spark's double rendering (e.g. "5.0"). */
  private def valueStr(v: JsonNode): String =
    if (v.isTextual) v.textValue()
    else if (v.isNumber) {
      val d = v.decimalValue()
      if (d.scale() <= 0 && d.precision() - d.scale() < 19) d.toBigIntegerExact.toString
      else d.doubleValue().toString
    } else if (v.isBoolean) { if (v.booleanValue()) "true" else "false" }
    else v.toString

  private def first(s: String) = "Fn" + hex(s, 6)
  private def last(s: String) = "Ln" + hex(s, 6)
  private def full(s: String) = first(s) + " " + last(s)
  private def ssn(s: String) = { val d = digits(s, 9); d.substring(0, 3) + "-" + d.substring(3, 5) + "-" + d.substring(5, 9) }
  private def phone(s: String) = { val d = digits(s, 10); "+1-" + d.substring(0, 3) + "-" + d.substring(3, 6) + "-" + d.substring(6, 10) }
  private def email(s: String, dom: String) = hex(s, 8) + "@" + dom
  private def street(s: String) = ((seed(s) % 9899L) + 101L).toString + " Masked St"
  private def city(s: String) = "City" + hex(s, 6)
  private def postal(s: String) = digits(s, 5)
  private def isoDate(s: String) = {
    val sd = seed(s)
    f"${1950 + sd % 50}%d-${1 + sd % 12}%02d-${1 + sd % 28}%02d"
  }
  private def uuid(s: String) = {
    val h = md5hex(s)
    h.substring(0, 8) + "-" + h.substring(8, 12) + "-" + h.substring(12, 16) + "-" +
      h.substring(16, 20) + "-" + h.substring(20, 32)
  }

  /** Field-kind → masked JSON fragment (already JSON-encoded: strings carry
    * quotes, numeric kinds are bare numbers). Mirrors [[Masking.generators]]
    * template-for-template. */
  private val generators: Map[String, String => String] = {
    def q(f: String => String): String => String =
      s => "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(f(s))) + "\""
    Map(
      "firstname" -> q(first), "lastname" -> q(last),
      "fullname" -> q(full), "name" -> q(full),
      "ssn" -> q(ssn), "taxid" -> q(ssn),
      "phonenumber" -> q(phone), "mobilenumber" -> q(phone),
      "email" -> q(email(_, "masked.example")),
      "workemail" -> q(email(_, "corp.example")),
      "personalemail" -> q(email(_, "mail.example")),
      "address" -> q(s => street(s) + ", " + city(s) + ", " + postal(s)),
      "street" -> q(street), "line1" -> q(street),
      "line2" -> q(s => "Unit " + (seed(s) % 999L + 1L)),
      "city" -> q(city), "countyname" -> q(city),
      "state" -> q(s => "State" + (seed(s) % 50L)),
      "postalcode" -> q(postal), "zip" -> q(postal),
      "jobtitle" -> q(s => "Role " + hex(s, 6)),
      "department" -> q(s => "dept-" + hex(s, 6)),
      "dateofbirth" -> q(isoDate),
      "managerid" -> q(uuid),
      "insurance" -> q(s => { val d = digits(s, 8); "INS-" + d.substring(0, 4) + "-" + d.substring(4, 8) }),
      "accountname" -> q(s => "Acme " + hex(s, 6)),
      "accountnumber" -> q(s => "BBAN" + digits(s, 12)),
      "routingnumber" -> (s => (100000000L + seed(s) % 900000000L).toString),
      "countyfips" -> (s => (10000L + seed(s) % 90000L).toString),
      "ratingarea" -> (s => (1L + seed(s) % 5L).toString),
      "payrate" -> { s =>
        val v = 15.0 + (seed(s) % 13500L).toDouble / 100.0
        (math.round(v * 100.0) / 100.0).toString
      }
    )
  }

  /** Recursive mask: replace values whose lowered field name is a PII kind
    * (never recursing into them), recurse containers otherwise — the
    * reference's walk (sanitizer.py:41-63), preserving key order and
    * non-masked bytes via the canonical writer only on masked docs.
    *
    * A PII-named CONTAINER value is replaced wholesale, exactly like the
    * reference (sanitizer.py:51-55 replaces ANY matched value, dict/list
    * included — an "address" object becomes a faker.address() string). The
    * template seed is the container's canonical JSON form with null object
    * entries DROPPED ([[render]] with `dropNulls` — absent and null fields
    * seed identically), which is also what the column-based [[Masking]]
    * seeds with (`canonical_json(to_json(col, ignoreNullFields))`) — so both
    * surfaces mask container PII to the identical value even when container
    * shapes differ across the documents of one schema-inferred frame. Nulls
    * stay null on both surfaces (the documented determinism deviation). */
  private def maskNode(name: String, n: JsonNode, sb: java.lang.StringBuilder): Unit =
    generators.get(name.toLowerCase) match {
      case Some(gen) if n.isContainerNode =>
        val cs = new java.lang.StringBuilder()
        render(n, cs, dropNulls = true)
        sb.append(gen(cs.toString))
      case Some(gen) if !n.isNull =>
        sb.append(gen(valueStr(n)))
      case _ =>
        if (n.isObject) {
          sb.append('{')
          val it = n.fields()
          var i = 0
          while (it.hasNext) {
            val e = it.next()
            if (i > 0) sb.append(',')
            appendString(e.getKey, sb)
            sb.append(':')
            maskNode(e.getKey, e.getValue, sb)
            i += 1
          }
          sb.append('}')
        } else if (n.isArray) {
          sb.append('[')
          var i = 0
          while (i < n.size()) {
            if (i > 0) sb.append(',')
            maskNode(name, n.get(i), sb) // list elements inherit the field name
            i += 1
          }
          sb.append(']')
        } else if (n.isTextual) appendString(n.textValue(), sb)
        else if (n.isNumber) sb.append(n.decimalValue().toString)
        else if (n.isBoolean) sb.append(if (n.booleanValue()) "true" else "false")
        else sb.append("null")
    }

  /** Mask a raw JSON document; null for malformed input. Only written
    * documents pass through here (migration.py:131-136), so the re-serialize
    * is confined to docs the reference itself rewrites. */
  def mask(raw: UTF8String): UTF8String = {
    val node = parse(raw)
    if (node == null) null
    else {
      val sb = new java.lang.StringBuilder(raw.numBytes())
      maskNode("", node, sb)
      UTF8String.fromString(sb.toString)
    }
  }
}

/** Base for the raw-document unary string kernels: string → string, null in
  * → null out, kernel-null (malformed JSON) → null out, codegen'd as one
  * static call inside the whole-stage span. */
abstract class JsonDocExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  /** Java source of the static call on the child variable. */
  protected def staticCall(c: String): String

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string document, got ${child.dataType.sql}")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = ${staticCall(c)};
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
}

/** `canonical_json(doc)` — see [[JsonDocs.canon]]. */
case class CanonicalJson(child: Expression) extends JsonDocExpression {
  override def nullSafeEval(input: Any): Any =
    JsonDocs.canon(input.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String =
    s"graft.functions.JsonDocs.canon($c)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `json_pk(doc, 'a/b')` — see [[JsonDocs.pkValue]]. The path is a
  * construction-time constant ('/'-separated segments, leading '/' already
  * stripped). */
case class JsonPk(child: Expression, path: String) extends JsonDocExpression {
  private lazy val pathRef = path
  override def nullSafeEval(input: Any): Any =
    JsonDocs.pkValue(input.asInstanceOf[UTF8String], path)
  override protected def staticCall(c: String): String = "" // unused
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathVar = ctx.addReferenceObj("pkPath", pathRef, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.JsonDocs.pkValue($c, $pathVar);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `json_inject_pk(doc, 'a/b,pk')` — see [[JsonDocs.injectPk]]. Paths are a
  * construction-time constant list. */
case class JsonInjectPk(child: Expression, paths: Seq[String]) extends JsonDocExpression {
  private lazy val pathsRef: Array[String] = paths.toArray
  override def nullSafeEval(input: Any): Any =
    JsonDocs.injectPk(input.asInstanceOf[UTF8String], pathsRef)
  override protected def staticCall(c: String): String = "" // unused
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathsVar = ctx.addReferenceObj("pkPaths", pathsRef, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.JsonDocs.injectPk($c, $pathsVar);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `json_doc_keys(doc, 'a/b,pk', inject)` — parse-once merge-key kernel, see
  * [[JsonDocs.docKeys]]. Struct result (w, id, pk0..pkN); null for
  * malformed documents. */
case class JsonDocKeys(child: Expression, paths: Seq[String], inject: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{StructField, StructType}

  private lazy val pathsRef: Array[String] = paths.toArray

  override def dataType: DataType = StructType(
    Seq(StructField("w", StringType), StructField("id", StringType)) ++
      paths.indices.map(i => StructField(s"pk$i", StringType)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_doc_keys expects a string document, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val vals = JsonDocs.docKeys(input.asInstanceOf[UTF8String], pathsRef, inject)
    if (vals == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      vals.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathsVar = ctx.addReferenceObj("pkPaths", pathsRef, "java.lang.String[]")
    val vals = ctx.freshName("vals")
    nullSafeCodeGen(ctx, ev, c => s"""
       |org.apache.spark.unsafe.types.UTF8String[] $vals =
       |  graft.functions.JsonDocs.docKeys($c, $pathsVar, $inject);
       |if ($vals == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow((Object[]) $vals);
       |}
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `mask_json(doc)` — see [[JsonDocs.mask]]. */
case class MaskJson(child: Expression) extends JsonDocExpression {
  override def nullSafeEval(input: Any): Any =
    JsonDocs.mask(input.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String =
    s"graft.functions.JsonDocs.mask($c)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
