package graft.functions

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions.{col, get_json_object}

import graft.SparkSpec

/** The one-parse JSON kernel ([[JsonPaths.parse]]): its validity bit is
  * the ingest path's one definition of a corrupt body, and its fields
  * are `get_json_object`'s values.
  */
class JsonPathsSpec extends SparkSpec {
  private def parse(bodies: Seq[String], paths: Seq[String]): Seq[Row] = {
    val fused = JsonPaths.parse(col("v"), paths)
    spark.createDataset(bodies)(Encoders.STRING).toDF("v").repartition(1)
      .select(fused.getField(JsonPaths.Valid) +:
        paths.map(p => fused.getField(JsonPaths.field(p))): _*).collect().toSeq
  }

  test("a body is corrupt iff its first JSON value is not well-formed") {
    // get_json_object(v, '$') reads one value and ignores what follows;
    // a JSON null is a value ('$' yields the string "null")
    val valid = Seq("42", "\"s\"", "[1,2]", "{\"a\":1} trailing", "null", " {\"a\":{}}")
    val corrupt = Seq(null, "", "   ", "{\"a\":1", "{\"a\":[1,2}", "not json {",
      "\"\\ud800\"")
    val bits = parse(valid ++ corrupt, Nil).map(_.getBoolean(0))
    assert(bits == valid.map(_ => true) ++ corrupt.map(_ => false))
    val reference = spark.createDataset(valid ++ corrupt)(Encoders.STRING).toDF("v")
      .select(get_json_object(col("v"), "$").isNotNull).collect().map(_.getBoolean(0)).toSeq
    assert(bits == reference)
  }

  test("leaves come out as get_json_object writes them") {
    val body = """{"a":1.50,"b":1e2,"s":"x\"y","o":{"k":[1,"t"]},"z":null,"z":7}"""
    val paths = Seq("a", "b", "s", "o", "o.k", "z", "o.k.x", "missing")
    assert(parse(Seq(body), paths) == Seq(Row(true, "1.5", "100.0", "x\"y",
      """{"k":[1,"t"]}""", """[1,"t"]""", "7", null, null)))
    // a parse error anywhere in the value voids every path
    assert(parse(Seq("""{"a":1,"b":tru}"""), Seq("a")) == Seq(Row(false, null)))
  }

  test("paths beyond .name steps match get_json_object through Spark's evaluator") {
    val bodies = Seq("""{"a":[5,{"b":6}],"a b":1," c":2,"*":3}""", """{"a":{"b":1}}""", "[1]")
    val paths = Seq("a[0]", "a[1].b", "a[*]", "*", "a.", "", "a..b", "a b", " c", "a.b")
    val reference = spark.createDataset(bodies)(Encoders.STRING).toDF("v")
      .select(get_json_object(col("v"), "$").isNotNull +:
        paths.map(p => get_json_object(col("v"), "$." + p)): _*).collect().toSeq
    assert(parse(bodies, paths) == reference)
  }
}
