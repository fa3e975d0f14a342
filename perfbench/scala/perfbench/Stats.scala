package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Sample statistics, the output digest and a minimal JSON writer. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, reported only when
    * at least `minBeyond` samples lie strictly beyond its rank; a tail
    * percentile drawn from fewer samples is noise, not a measurement. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      if (n - rank < minBeyond && p > 50.0) None
      else Some(xs.sorted.apply(rank - 1))
    }
  }

  /** The median; defined for any non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest of `ps` that [[percentile]] supports, as (p, value). */
  def highestSupported(xs: Seq[Double], ps: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0))
      : Option[(Double, Double)] =
    ps.sorted.reverse.iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()

  /** Order-independent digest of a DataFrame's full output: the schema,
    * the row count and the exact sum of a 64-bit hash of each row's
    * string rendering. Rows are hashed independently and summed, so any
    * permutation or repartitioning of the same rows gives the same digest;
    * any changed, lost or duplicated row changes it. The digest is observed
    * while the output is written to `noop`: one execution of the query. */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      coalesce(if (f.dataType == BinaryType) hex(c) else c.cast("string"), lit("␀"))
    }
    val rowHash = xxhash64(concat_ws("\u001f", cells: _*)).cast("decimal(38,0)")
    val obs = Observation(s"digest_${java.util.UUID.randomUUID().toString.take(8)}")
    Batch.noop(named.observe(obs, count(lit(1)).as("n"), sum(rowHash).as("h")))
    val m = obs.get
    val schemaTag = md5Hex(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")).take(8)
    val sumStr = Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")
    s"$schemaTag:${m("n")}:$sumStr"
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** A dependency-free JSON renderer for the result record (maps, sequences,
  * numbers, strings, booleans, options). Non-finite doubles become null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
