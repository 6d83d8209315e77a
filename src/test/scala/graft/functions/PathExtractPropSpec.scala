package graft.functions

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{col, get_json_object}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.sinks.SqlSink

/** Property tests (SURVEY §5.3): random nested JSON objects through the
  * engine's path extraction must honor the reference's rules (missing ⇒
  * null, residual nesting ⇒ JSON string). Raw ScalaCheck generators
  * sampled with fixed seeds (scalatestplus bridge not in the offline
  * dependency set).
  */
class PathExtractPropSpec extends SparkSpec {

  private val leafGen: Gen[String] = Gen.oneOf(
    Gen.choose(-1000, 1000).map(_.toString),
    Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
    Gen.oneOf("true", "false", "null"))

  private def objGen(depth: Int): Gen[String] =
    if (depth == 0) leafGen
    else Gen.choose(1, 3).flatMap { n =>
      Gen.listOfN(n, for {
        k <- Gen.identifier.map(_.take(5))
        v <- Gen.frequency(3 -> leafGen, 2 -> objGen(depth - 1))
      } yield s""""$k": $v""").map(_.mkString("{", ", ", "}"))
    }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def extract(json: String, path: String): org.apache.spark.sql.Row = {
    val s = spark
    s.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING)
      .toDF("j").select(PathExtract.fromJson(col("j"), path)).collect().head
  }

  test("a path whose first segment is absent is always null") {
    samples(objGen(2), 20).foreach { json =>
      assert(extract(json, "zzzzzz.x").isNullAt(0), json)
    }
  }

  test("top-level scalar keys round-trip") {
    val kv = for {
      k <- Gen.identifier.map(_.take(5))
      v <- Gen.choose(-1000, 1000)
    } yield (k, v)
    samples(kv, 20).foreach { case (k, v) =>
      assert(extract(s"""{"$k": $v}""", k).getString(0) == v.toString)
    }
  }

  test("traversal into a scalar is always null") {
    val kv = for {
      k <- Gen.identifier.map(_.take(5))
      v <- leafGen if v != "null"
    } yield (k, v)
    samples(kv, 20).foreach { case (k, v) =>
      assert(extract(s"""{"$k": $v}""", s"$k.deeper").isNullAt(0), s"$k=$v")
    }
  }

  test("residual nesting always serializes to parseable JSON") {
    val kv = for {
      k <- Gen.identifier.map(_.take(5))
      inner <- objGen(1) if inner.startsWith("{")
    } yield (k, inner)
    samples(kv, 20).foreach { case (k, inner) =>
      val out = extract(s"""{"$k": $inner}""", k).getString(0)
      assert(out != null && out.startsWith("{") && out.endsWith("}"), s"$inner -> $out")
    }
  }

  /** Every dotted key path of an object, each with a missing child. */
  private def keyPaths(json: String): Seq[String] = {
    def walk(prefix: String, n: JsonNode): Seq[String] =
      n.fields().asScala.toSeq.flatMap { e =>
        val p = prefix + e.getKey
        Seq(p, p + ".zz") ++ walk(p + ".", e.getValue)
      }
    walk("", new ObjectMapper().readTree(json))
  }

  /** The fused parse against per-path `get_json_object`, on the driver
    * (interpreted, over the local relation) and in tasks (codegen).
    */
  private def assertFused(bodies: Seq[String], paths: Seq[String]): Unit = {
    val df = spark.createDataset(bodies)(Encoders.STRING).toDF("j")
    val fused = JsonPaths.parse(col("j"), paths)
    val pairs =
      (get_json_object(col("j"), "$").isNotNull, fused.getField(JsonPaths.Valid)) +:
        paths.map(p => (get_json_object(col("j"), "$." + p), fused.getField(JsonPaths.field(p))))
    val names = "$ IS NOT NULL" +: paths
    for (d <- Seq(df, df.repartition(2)); r <- d.select(col("j") +:
        pairs.flatMap { case (a, b) => Seq(a, b) }: _*).collect(); i <- names.indices)
      assert(r.get(2 * i + 1) == r.get(2 * i + 2), s"${names(i)} of ${r.getString(0)}")
  }

  private val edgeBodies: Seq[String] = Seq(null, "", "null", "42", "\"s\"", "-1.5",
    "true", "[1,2]", "[{\"a\":1}]", "{\"a\":1", "{\"a\":{\"b\":[1,2}}", "{\"a\":1} trailing",
    "{\"a\":1}{\"b\":2}", "  {\"a\":1}  ", "{\"a\":null,\"a\":2}", "{\"a\":1.50,\"b\":1e2}",
    "{\"a\":-0,\"b\":12345678901234567890123,\"n\":{\"y\":-9000000000}}",
    "{\"a\":\"q\\\"b\\\\s\\n\\u00e9\\t\"}", "{\"a\":{\"b\":\"\\ud83d\\ude00\"}}",
    "{\"a\":\"\\ud800\"}", "\"\\ud800\"", "{\"a\":\"\\q\"}", "{\"a\":NaN}",
    "{\"a\":\"ctl\u0001x\"}", "{'a':'single'}", "{\"n\":{\"y\":3},\"n\":{\"y\":4}}",
    "{\"n\":5,\"n\":{\"y\":4}}", "{\"n\":{\"z\":1},\"n\":{\"y\":[4,{\"q\":5}]}}",
    "{\"n\":{\"y\":null,\"y\":\"second\"}}", "{\"n\":[{\"y\":1}]}")

  test("the fused parse equals per-path get_json_object on generated objects") {
    val bodies = samples(objGen(3), 40)
    assertFused(bodies, bodies.flatMap(keyPaths).distinct :+ "zzzzzz")
  }

  test("the fused parse equals per-path get_json_object on the edge corpus") {
    assertFused(edgeBodies, Seq("a", "b", "a.b", "n", "n.y", "n.y.q", "n.z", "zz"))
  }

  test("a path repeated in a Positional mapping binds the same value twice") {
    val ps = Seq("n", "n.y", "a", "n", "n.y")
    val df = spark.createDataset(edgeBodies)(Encoders.STRING).toDF("j")
    val bound = SqlSink.mapParameters(df, SqlSink.Positional(ps),
      ps.indices.map(i => s"x$i"), Some("j")).collect()
    val expected = df.select(ps.map(p => get_json_object(col("j"), "$." + p)): _*).collect()
    assert(bound.toSeq == expected.toSeq)
  }
}
