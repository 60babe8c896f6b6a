package perfbench

import java.time.LocalDate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(100, 91) == 9)
    // 176 registry queries: p94 leaves 10 beyond, p95 only 8
    assert(Stats.tailPercentile(176).contains(94))
    assert(Stats.tailPercentile(11).contains(9))
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
    assert(Stats.tailPercentile(50, beyond = 5).contains(90))
  }

  test("nearest-rank percentiles are measured samples") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 5.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(7.0, 9.0), 50) == 7.0)
  }

  test("the task-interval union counts overlapping time once") {
    assert(Stats.unionLength(Seq()) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30)
    assert(Stats.unionLength(Seq((5L, 5L), (8L, 3L))) == 0)
    // idle time of a span: the part no task covers, tasks clipped to the span
    assert(Stats.uncovered(0, 100, Seq((-50L, 10L), (40L, 60L), (90L, 200L))) == 60)
    assert(Stats.uncovered(0, 100, Seq((200L, 300L))) == 100)
    assert(Stats.uncovered(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("tags", ArrayType(IntegerType)),
    StructField("attrs", MapType(StringType, IntegerType))))

  private def row(id: Long, name: String, score: java.lang.Double, tags: Seq[Int],
      attrs: Seq[(String, Int)]): InternalRow =
    new GenericInternalRow(Array[Any](id, if (name == null) null else UTF8String.fromString(name),
      score, new GenericArrayData(tags.toArray[Any]),
      ArrayBasedMapData(attrs.map(_._1).map(UTF8String.fromString).toArray[Any],
        attrs.map(_._2).toArray[Any])))

  private val rows = Seq(
    row(1, "a", 0.1 + 0.2, Seq(1, 2), Seq("x" -> 1, "y" -> 2)),
    row(2, null, null, Seq(), Seq()),
    row(2, null, null, Seq(), Seq()),
    row(3, "c", -0.0, Seq(3), Seq("z" -> 3)))

  private def digest(rs: Seq[InternalRow]): Digest = Digest.ofRows(rs.iterator, schema)

  test("the digest does not depend on row order or partitioning") {
    val whole = digest(rows)
    assert(whole.rows == 4)
    assert(digest(rows.reverse) == whole)
    assert(digest(rows.take(1)) + digest(rows.drop(1).reverse) == whole)
    // map entry order is not part of a value; -0.0 equals 0.0
    val same = rows.updated(0, row(1, "a", 0.1 + 0.2, Seq(1, 2), Seq("y" -> 2, "x" -> 1)))
      .updated(3, row(3, "c", 0.0, Seq(3), Seq("z" -> 3)))
    assert(digest(same) == whole)
    // the last bits of a double may differ between executions
    assert(digest(rows.updated(0, row(1, "a", 0.3, Seq(1, 2), Seq("x" -> 1, "y" -> 2)))) == whole)
  }

  test("the digest changes when a value, a row or a duplicate changes") {
    val whole = digest(rows)
    assert(digest(rows.updated(0, row(1, "a", 0.31, Seq(1, 2), Seq("x" -> 1, "y" -> 2)))) != whole)
    assert(digest(rows.updated(0, row(1, "a", 0.1 + 0.2, Seq(2, 1), Seq("x" -> 1, "y" -> 2)))) != whole)
    assert(digest(rows.updated(1, row(2, "", null, Seq(), Seq()))) != whole)
    assert(digest(rows.take(2) ++ rows.drop(3)) != whole) // one duplicate dropped
    assert(digest(rows :+ rows.head) != whole)
  }

  test("the generator gives the same blobs for a seed and other blobs for another") {
    val day = LocalDate.of(2024, 3, 9)
    val a = new WeatherGen(7)
    val b = new WeatherGen(7)
    val c = new WeatherGen(8)
    for (h <- Seq(0, 11, 23)) {
      assert(a.blob(day, h) == b.blob(day, h))
      assert(a.lateBy(day, h) == b.lateBy(day, h))
    }
    assert((0 until 24).map(c.blob(day, _).text) != (0 until 24).map(a.blob(day, _).text))
    // the reference's shape: one line, one reading or one malformed line, per hourly blob
    for (h <- 0 until 24) {
      val blob = a.blob(day, h)
      assert(blob.text.linesIterator.size == 1)
      assert(blob.readings.size + blob.malformed == 1)
    }
  }

  test("every generated day has a late blob, all equally late") {
    val g = new WeatherGen(3)
    for (d <- 0 until 30) {
      val day = LocalDate.of(2024, 1, 1).plusDays(d)
      val late = (0 until 24).map(g.lateBy(day, _)).filter(_ > 0)
      assert(late.nonEmpty)
      assert(late.forall(_ == WeatherGen.LateDays))
    }
  }
}
