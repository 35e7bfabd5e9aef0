package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ExtractedTurn, Golden}

/** The benchmark's correctness checks must count a corrupted output as failed. */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private val golden = Seq(
    Golden("c1", 0, "hello world", "exact"),
    Golden("c1", 1, "second turn", "exact"),
    Golden("c2", 0, null, "error"))
  private val good = Seq(
    ExtractedTurn("c1", 0, "hello world", Seq.empty, "pdf", null),
    ExtractedTurn("c1", 1, "second turn", Seq.empty, "plain", null),
    ExtractedTurn("c2", 0, null, Seq.empty, "pdf-b64", "PDF file is corrupted"))

  private def failures(extracted: Seq[ExtractedTurn]): Long = {
    val s = spark
    import s.implicits._
    Checks.extractionFailures(extracted.toDS(), golden.toDS())
  }

  test("a correct output, poison turn flagged, has no failures") {
    assert(failures(good) == 0)
  }

  test("a flipped byte in one extracted turn is one failed turn") {
    val flipped = good.updated(0, good.head.copy(extracted_text = "hello worle"))
    assert(failures(flipped) == 1)
  }

  test("a poison turn without its error, a dropped and a duplicated turn each fail") {
    assert(failures(good.updated(2, good(2).copy(extracted_text = "", error = null))) == 1)
    assert(failures(good.take(2)) == 1)
    assert(failures(good :+ good.head) == 1)
  }

  test("a dropped query result, or one row less, fails the query") {
    val cols = Array("b", "a")
    val rows = Array(Row(1.0, "x"), Row(2.5, "y"), Row(null, "z"))
    val fp = Checks.fingerprint(cols, rows)._1
    val pins = Map("q1" -> fp, "q2" -> fp)
    assert(Checks.queryFailures(Map("q1" -> fp, "q2" -> fp), pins, Seq("q1", "q2")).isEmpty)
    assert(Checks.queryFailures(Map("q1" -> fp), pins, Seq("q1", "q2")) == Seq("q2"))
    val fewer = Checks.fingerprint(cols, rows.take(2))._1
    assert(Checks.queryFailures(Map("q1" -> fp, "q2" -> fewer), pins, Seq("q1", "q2")) == Seq("q2"))
  }

  test("fingerprints ignore row and column order and floating-point noise") {
    val fp = Checks.fingerprint(Array("b", "a"), Array(Row(0.1 + 0.2, "x"), Row(2.0, "y")))._1
    assert(Checks.fingerprint(Array("a", "b"), Array(Row("y", 2.0), Row("x", 0.3)))._1 == fp)
  }
}
