package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive content fingerprint of a result: the row count and
  * the sum over rows of a 31-bit hash of the row's text form. The text
  * form keeps what a reader of the result would see, signed zeros
  * included. Columns are taken in name order; `round` >= 0 rounds
  * floating columns first and `exclude` drops columns, for results whose
  * floating tail or tie order is not deterministic.
  */
final case class Fingerprint(rows: Long, hash: Long)

object Content {
  private val Mod = 2147483647L

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  def rowHash(df: DataFrame, round: Int = -1, exclude: Set[String] = Set.empty): Column = {
    val parts = df.columns.filterNot(exclude).sorted.toSeq.map { c =>
      val ref = df.col(quoted(c))
      df.schema(c).dataType match {
        case DoubleType | FloatType if round >= 0 => org.apache.spark.sql.functions.round(ref, round).as(c)
        case _ => ref.as(c)
      }
    }
    pmod(xxhash64(struct(parts: _*).cast("string")), lit(Mod))
  }

  /** `df` with an observation that fingerprints exactly the rows the
    * action on it produces, in the same job.
    */
  def observed(df: DataFrame, obs: Observation, round: Int = -1,
               exclude: Set[String] = Set.empty, extra: Seq[Column] = Nil): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df, round, exclude)), lit(0L)).as("hash") +: extra: _*)

  def read(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  /** Fingerprint computed by a dedicated job (checks, pinning). */
  def of(df: DataFrame, round: Int = -1, exclude: Set[String] = Set.empty): Fingerprint = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df, round, exclude)), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1))
  }

  def combine(a: Fingerprint, b: Fingerprint): Fingerprint =
    Fingerprint(a.rows + b.rows, a.hash + b.hash)
}
