package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dotted-path field extraction, reproducing the reference's projection
  * semantics (reference: `src/rabbithole/sql.py:110-215`):
  *
  *   - missing key               ⇒ NULL        (`sql.py:157-163`)
  *   - traversal *into* a scalar ⇒ NULL        (`sql.py:157-163`)
  *   - residual nested value     ⇒ JSON string (`sql.py:164-166`)
  *
  * Two entry points, matching the reference's two payload shapes:
  *
  *   - [[fromJson]]: the payload is a raw JSON *string* column (the
  *     schema-less AMQP-body case). Spark's `get_json_object` natively
  *     implements all three rules — no UDF — but each call tokenizes the
  *     whole body again. Several paths over one body (the ingest sink's
  *     parameters) go through [[JsonPaths.parse]] instead, which parses
  *     once and yields the same values.
  *   - [[fromStruct]]: the payload was parsed into a typed struct column
  *     (a flow that declared a schema). We compile the path against the
  *     schema at *plan* time: dead paths fold to `lit(null)` so they cost
  *     nothing at runtime, residual nesting becomes `to_json`.
  *
  * Both compile to `Column` expressions. Over a typed struct from a
  * parquet scan, Catalyst prunes the read down to the referenced leaves;
  * a raw JSON string is read whole and parsed per row.
  */
object PathExtract {

  /** Extract `path` ("a.b.c") from a raw JSON string column. */
  def fromJson(col: Column, path: String): Column =
    get_json_object(col, "$." + path)

  /** Extract `path` from a struct-typed column of a DataFrame, with the
    * reference's missing/scalar/residual rules applied at plan time.
    */
  def fromStruct(df: DataFrame, rootCol: String, path: String): Column = {
    val rootType = df.schema.find(_.name == rootCol).map(_.dataType)
      .getOrElse(return lit(null).cast(StringType))
    walk(rootType, path.split('.').toList, col(rootCol))
  }

  /** Extract a top-level dotted path where the first segment is itself a
    * DataFrame column (the reference's message-as-dict view of a row).
    */
  def fromRow(df: DataFrame, path: String): Column = {
    val parts = path.split('.').toList
    df.schema.find(_.name == parts.head) match {
      case None    => lit(null).cast(StringType)
      case Some(f) => walk(f.dataType, parts.tail, col(f.name))
    }
  }

  private def walk(dt: DataType, parts: List[String], c: Column): Column =
    parts match {
      case Nil => dt match {
        // residual nesting ⇒ JSON string (sql.py:164-166)
        case _: StructType | _: MapType | _: ArrayType => to_json(c)
        case _                                         => c
      }
      case p :: rest => dt match {
        case st: StructType => st.fields.find(_.name == p) match {
          case Some(f) => walk(f.dataType, rest, c.getField(p))
          case None    => lit(null).cast(StringType) // missing key ⇒ NULL
        }
        case mt: MapType => walk(mt.valueType, rest, c.getItem(p))
        // traversal into a scalar ⇒ NULL (sql.py:157-163)
        case _ => lit(null).cast(StringType)
      }
    }

  /** Positional parameter mapping (reference `ListParametersMapper`,
    * `sql.py:169-192`): ordered list of paths ⇒ ordered projection.
    * Output columns are named p0..pN (SQL binding is positional).
    */
  def listMapper(df: DataFrame, paths: Seq[String]): DataFrame =
    df.select(paths.zipWithIndex.map { case (p, i) =>
      fromRow(df, p).as(s"p$i")
    }: _*)

  /** Named parameter mapping (reference `DictParametersMapper`,
    * `sql.py:195-215`): {param ⇒ path} ⇒ aliased projection.
    */
  def dictMapper(df: DataFrame, params: Seq[(String, String)]): DataFrame =
    df.select(params.map { case (name, p) => fromRow(df, p).as(name) }: _*)
}
