package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: the row count plus the sum of a
  * 64-bit hash of every row. Floating-point values are rounded (1e-6
  * absolute, then 9 significant digits) before hashing, so results whose
  * last bits depend on summation order still agree; map entries are
  * sorted, so map iteration order does not matter either. */
object Digest {

  final case class Value(rows: Long, digest: String)

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9g", round(c.cast(DoubleType), 6) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Aggregate columns computing (n, d) over `schema`'s rows. */
  def columns(schema: StructType): Seq[Column] = {
    val h = xxhash64(schema.fields.toIndexedSeq.map(f => normalize(quoted(f.name), f.dataType)): _*)
    Seq(count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("d"))
  }

  def of(row: Row): Value =
    Value(row.getAs[Long]("n"), Option(row.getAs[Any]("d")).map(_.toString).getOrElse("0"))

  def of(m: Map[String, Any]): Value =
    Value(m("n").asInstanceOf[Long], Option(m("d")).map(_.toString).getOrElse("0"))

  /** Digest of a frame by a separate aggregation (used off the timed path). */
  def compute(df: DataFrame): Value = of(df.agg(columns(df.schema).head, columns(df.schema).tail: _*).head())

  /** `df` with the digest attached as an observation: the digest is
    * collected alongside whatever action runs the returned frame, without
    * an extra job or exchange. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val cols = columns(df.schema)
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
