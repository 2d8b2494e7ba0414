package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Runs declared entries the way a user does: call the entry fn (build),
  * then execute the returned frame into the `noop` sink (exec).
  *
  * The output signature is taken in the same execution: an `observe` on
  * the written frame aggregates (row count, xor and sum of a per-row
  * xxhash64). Both aggregates ignore row order. Floating-point columns
  * are hashed at a fixed number of significant digits, so a parallel sum
  * that rounds differently in its last bit still matches. */
object Entries {
  type Fn = (SparkSession, String) => DataFrame

  /** One execution. `sig` is set when the entry ran to the end; `error`
    * when it threw. Times are seconds. */
  final case class Op(name: String, buildS: Double, execS: Double,
                      sig: Option[String], error: Option[String]) {
    def totalS: Double = buildS + execS
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c)
    case FloatType => format_string("%.5e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      norm(df.col(s"`c$i`"), f.dataType) }
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** `df` renamed to positional column names (duplicate output names
    * would make the hash ambiguous) and observed into `obs`. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = rowHash(renamed)
    renamed.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.cast(DecimalType(38, 0))).as("s"))
  }

  def signature(m: Map[String, Any]): String =
    s"${m("n")}:${Option(m("x")).getOrElse(0)}:${Option(m("s")).getOrElse(0)}"

  def run(spark: SparkSession, name: String, fn: Fn, dir: String): Op = {
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      val obs = Observation(s"sig_$name")
      observed(df, obs).write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Op(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(signature(obs.get)), None)
    } catch {
      case NonFatal(e) =>
        Op(name, 0.0, 0.0, None, Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }

  /** The op's failure, if any: a throw, or a signature other than the
    * recorded one. */
  def failure(op: Op, expected: Option[String]): Option[String] =
    op.error.orElse((op.sig, expected) match {
      case (Some(got), Some(want)) if got != want => Some(s"signature $got != recorded $want")
      case (Some(_), None) => Some("no recorded signature")
      case _ => None
    })
}
