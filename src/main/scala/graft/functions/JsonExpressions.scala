package graft.functions

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder,
  JsonGenerator, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.catalyst.json.CreateJacksonParser
import org.apache.spark.sql.types.{BooleanType, DataType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-parse JSON kernel: a raw JSON string is tokenized once into a
  * validity bit plus the value of every requested dotted path, each
  * byte-identical to Spark's `get_json_object`:
  *
  *   - the bit equals `get_json_object(v, '$') IS NOT NULL`: the first
  *     JSON value in `v` is well-formed, whatever follows it. So `42`,
  *     `"s"`, `null`, `[1,2]` and `{"a":1} trailing` are valid; SQL NULL,
  *     `""` and truncated JSON are not, nor is a top-level string whose
  *     escapes leave a lone surrogate (`"\ud800"`, which Spark fails to
  *     write raw);
  *   - a path's value equals `get_json_object(v, '$.' + path)`. Paths
  *     made only of `.name` steps share the one parse: a string leaf is
  *     written raw, any other leaf is copied as Jackson's
  *     `copyCurrentStructure` copies it (`1.50` → `1.5`, `1e2` →
  *     `100.0`), a null leaf does not match, and among duplicate keys
  *     the first one that matches wins. A parse error anywhere in the
  *     first value nulls every path. A path with subscripts or wildcards
  *     goes to Spark's own evaluator, which parses again.
  *
  * Parity rests on reading with Spark's Jackson features (its
  * `SharedFactory` is private, so [[JsonPathKernel.factory]] repeats
  * them) through Spark's parser over the UTF-8 bytes
  * (`CreateJacksonParser.utf8String`), and on writing each leaf as
  * Spark's generator calls write it.
  */
final class JsonPathKernel(paths: Seq[String]) extends Serializable {
  import JsonPathKernel._

  private val n = paths.length
  // plain paths join the trie; any other is evaluated on its own
  private val (root, complex) = {
    val root = new Node
    val complex = Seq.newBuilder[(Int, String)]
    paths.zipWithIndex.foreach { case (p, slot) =>
      plain(p) match {
        case Some(names) => root.add(names, slot)
        case None => complex += slot -> ("$." + p)
      }
    }
    (root, complex.result())
  }

  @transient private lazy val evaluators = complex.map { case (slot, p) =>
    slot -> new GetJsonObjectEvaluator(UTF8String.fromString(p))
  }
  // one output buffer per path (a leaf's copy may enclose another's),
  // plus one for a top-level string
  @transient private lazy val buffers = Array.fill(n + 1)(new ByteArrayOutputStream)
  // per-row state: the output row, and which trie paths have matched
  @transient private var out: Array[Any] = _
  @transient private lazy val matched = new Array[Boolean](n)

  /** The bit, then one string per path in `paths` order. */
  def eval(json: UTF8String): InternalRow = {
    out = new Array[Any](n + 1)
    out(0) = false
    if (json != null) {
      java.util.Arrays.fill(matched, false)
      val p = CreateJacksonParser.utf8String(factory, json)
      try {
        p.nextToken() match {
          case null => // no value: get_json_object(v, '$') has nothing to copy
          case JsonToken.VALUE_STRING => out(0) = raw(p, buffers(n)) != null
          case _ =>
            value(p, root, Nil)
            out(0) = true
        }
      } catch {
        case _: JsonProcessingException =>
          java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
          out(0) = false
      } finally p.close()
      evaluators.foreach { case (slot, e) =>
        e.setJson(json)
        out(slot + 1) = e.evaluate()
      }
    }
    new GenericInternalRow(out)
  }

  private def pending(node: Node): Boolean = {
    var i = 0
    while (i < node.slots.length) {
      if (!matched(node.slots(i))) return true
      i += 1
    }
    false
  }

  /** The parser stands on a value: copy it into `gens` (the outputs of
    * the enclosing matched paths) and fill the paths under `node`.
    */
  private def value(p: JsonParser, node: Node, gens: List[JsonGenerator]): Unit = {
    val t = p.currentToken
    if (t == JsonToken.START_OBJECT && node != null && pending(node)) {
      gens.foreach(_.copyCurrentEvent(p))
      while (p.nextToken() != JsonToken.END_OBJECT) {
        gens.foreach(_.copyCurrentEvent(p))
        val child = node.children.get(p.currentName)
        if (p.nextToken() == JsonToken.VALUE_NULL || child == null || !pending(child))
          value(p, null, gens)
        else if (child.leaf < 0 || matched(child.leaf)) value(p, child, gens)
        else leaf(p, child, gens)
      }
      gens.foreach(_.copyCurrentEvent(p))
    } else gens match {
      case Nil => p.skipChildren()
      case g :: Nil => g.copyCurrentStructure(p)
      case _ =>
        gens.foreach(_.copyCurrentEvent(p))
        var depth = if (t.isStructStart) 1 else 0
        while (depth > 0) {
          val u = p.nextToken()
          gens.foreach(_.copyCurrentEvent(p))
          if (u.isStructStart) depth += 1
          else if (u.isStructEnd) depth -= 1
        }
    }
  }

  /** A non-null value that completes the path ending at `node`. */
  private def leaf(p: JsonParser, node: Node, gens: List[JsonGenerator]): Unit = {
    matched(node.leaf) = true
    out(node.leaf + 1) = p.currentToken match {
      case JsonToken.VALUE_STRING =>
        gens.foreach(_.copyCurrentEvent(p))
        raw(p, buffers(node.leaf))
      case JsonToken.VALUE_NUMBER_INT =>
        // the copy writes an integer's value in plain decimal
        gens.foreach(_.copyCurrentEvent(p))
        UTF8String.fromString(p.getNumberValue.toString)
      case _ =>
        val buf = buffers(node.leaf)
        buf.reset()
        val g = factory.createGenerator(buf, JsonEncoding.UTF8)
        value(p, node, g :: gens)
        g.close()
        UTF8String.fromBytes(buf.toByteArray)
    }
  }

  /** The current string written unquoted, as `get_json_object` writes a
    * string leaf; null when the generator rejects it (a lone surrogate).
    * Parse errors propagate: they void the whole document.
    */
  private def raw(p: JsonParser, buf: ByteArrayOutputStream): UTF8String = {
    val chars = p.getTextCharacters // completes the token: a parse error is not ours
    val off = p.getTextOffset
    val end = off + p.getTextLength
    var i = off
    while (i < end && !Character.isSurrogate(chars(i))) i += 1
    // without surrogates the raw write is plain UTF-8
    if (i == end) return UTF8String.fromString(new String(chars, off, end - off))
    buf.reset()
    val g = factory.createGenerator(buf, JsonEncoding.UTF8)
    try {
      if (p.hasTextCharacters) g.writeRaw(p.getTextCharacters, p.getTextOffset, p.getTextLength)
      else g.writeRaw(p.getText)
      g.close()
      UTF8String.fromBytes(buf.toByteArray)
    } catch { case _: JsonProcessingException => null }
  }
}

object JsonPathKernel {
  /** The names of a path that Spark's JSONPath parser reads as `.name`
    * steps only: no empty step, no `[`, no whitespace (the parser skips
    * it before a step), no step opening with `*` (a wildcard).
    */
  private def plain(path: String): Option[List[String]] = {
    val names = path.split("\\.", -1).toList
    def ok(c: Char) = c != '[' && !Character.isWhitespace(c) && !Character.isSpaceChar(c)
    if (names.forall(s => s.nonEmpty && s.head != '*' && s.forall(ok))) Some(names)
    else None
  }

  /** Spark's `get_json_object` read features. */
  val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** Trie over `.name` steps; `slots` are the paths at or below it. */
  private final class Node extends Serializable {
    val children = new java.util.HashMap[String, Node]
    var leaf = -1
    var slots = Array.empty[Int]
    def add(names: List[String], slot: Int): Unit = {
      slots :+= slot
      names match {
        case Nil => leaf = slot
        case h :: t => children.computeIfAbsent(h, _ => new Node).add(t, slot)
      }
    }
  }
}

/** `json` parsed once by [[JsonPathKernel]] into a struct: the
  * non-null boolean [[JsonPaths.Valid]], then one string field per path,
  * named [[JsonPaths.field]]`(path)`. Never null: a NULL `json` gives
  * `valid = false` and NULL paths, as `get_json_object` does.
  */
case class ParseJsonPaths(child: Expression, paths: Seq[String])
    extends UnaryExpression {
  require(paths.distinct == paths, s"duplicate paths: $paths")

  @transient private lazy val kernel = new JsonPathKernel(paths)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string, got ${t.simpleString}")
  }
  override def nullable: Boolean = false
  override lazy val dataType: DataType = StructType(
    StructField(JsonPaths.Valid, BooleanType, nullable = false) +:
      paths.map(p => StructField(JsonPaths.field(p), StringType)))
  override def prettyName: String = "parse_json_paths"

  override def eval(input: InternalRow): Any =
    kernel.eval(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("jsonPaths", kernel)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $k.eval(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): ParseJsonPaths =
    copy(child = c)
}

/** Column-level entry point (the [[StrFunctions]] pattern). */
object JsonPaths {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  /** The validity bit's field: `get_json_object(json, '$') IS NOT NULL`. */
  val Valid = "valid"

  /** The field holding `get_json_object(json, '$.' + path)`. */
  def field(path: String): String = "$." + path

  /** `json` tokenized once into the bit and every distinct path. */
  def parse(json: Column, paths: Seq[String]): Column =
    column(ParseJsonPaths(expression(json), paths.distinct))
}
