package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.{col, lit}
import graft.pipeline.{ExtractJob, ExtractedTurn, Golden}

/** Output checks, run outside the timed region. */
object Checks {

  /** Failed turns of one extraction output: every mismatched, missing, extra
    * or duplicated turn, and every poison turn (gate "error") whose `error`
    * is not set. A poison turn with its error set is what goldenDiff reports
    * as a mismatch, so those rows are the expected outcome, not a failure.
    */
  def extractionFailures(extracted: Dataset[ExtractedTurn], golden: Dataset[Golden]): Long = {
    val keys = Seq("conv_id", "turn_idx")
    val poison = golden.where(col("gate") === "error").select(keys.map(col): _*)
    val unexpected = ExtractJob.goldenDiff(extracted, golden)
      .join(poison.withColumn("poison", lit(true)), keys, "left")
      .where(!(col("reason") === "mismatch" && col("poison").isNotNull))
      .count()
    val unflagged = extracted.join(poison, keys).where(col("error").isNull).count()
    val duplicated = extracted.count() - extracted.select(keys.map(col): _*).distinct().count()
    unexpected + unflagged + duplicated
  }

  /** Order-insensitive fingerprint of a query result: row count and the
    * 64-bit sum of per-row hashes, with columns taken in name order and
    * floating-point values rounded to 10 significant digits (partition order
    * may move the last bits of a floating-point sum). Also returns the
    * result's size as rendered characters.
    */
  def fingerprint(columns: Array[String], rows: Array[Row]): (String, Long) = {
    val order = columns.indices.sortBy(i => columns(i)).toArray
    var sum, chars = 0L
    rows.foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("|")
      sum += (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
      chars += s.length
    }
    (f"${rows.length}:$sum%016x", chars)
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString

  /** Names of queries whose fingerprint is missing or differs from its pin. */
  def queryFailures(fingerprints: Map[String, String], pins: Map[String, String],
      queries: Seq[String]): Seq[String] =
    queries.filter(q => !fingerprints.get(q).exists(fp => pins.get(q).contains(fp)))
}
