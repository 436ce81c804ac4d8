package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("fingerprint ignores row order and changes when one value changes") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "a", 0.5, Some(3)), (2L, "b", 1.25, None), (3L, null, -2.0, Some(7)))
    val base = Fingerprint.of(rows.toDF("id", "s", "d", "o"))
    assert(base._1 == 3L)
    assert(Fingerprint.of(rows.reverse.toDF("id", "s", "d", "o")) == base)
    assert(Fingerprint.of(rows.toDF("id", "s", "d", "o").repartition(3)) == base)
    // column order does not matter, column names do
    assert(Fingerprint.of(rows.toDF("id", "s", "d", "o").select("o", "d", "s", "id")) == base)
    assert(Fingerprint.of(rows.toDF("id", "s", "d", "p")) != base)

    val changedValue = rows.updated(1, (2L, "b", 1.26, None))
    assert(Fingerprint.of(changedValue.toDF("id", "s", "d", "o")) != base)
    val nullToEmpty = rows.updated(2, (3L, "", -2.0, Some(7)))
    assert(Fingerprint.of(nullToEmpty.toDF("id", "s", "d", "o")) != base)
    // doubles compare at %.6f, like the oracle check; -0.0 equals 0.0
    val jitter = rows.updated(0, (1L, "a", 0.5 + 1e-12, Some(3)))
    assert(Fingerprint.of(jitter.toDF("id", "s", "d", "o")) == base)
    assert(Fingerprint.of(Seq(-0.0).toDF("x")) == Fingerprint.of(Seq(0.0).toDF("x")))
  }

  test("fingerprint sums hashes without ANSI overflow") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.ansi.enabled", "true")
    val fp = Fingerprint.of((1L to 5000L).toDF("id"))
    assert(fp._1 == 5000L)
  }

  test("percentile reports nearest rank and the count beyond it") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Stats.Pct(5.0, 5, 5, 10))
    assert(Stats.percentile(xs, 90) == Stats.Pct(9.0, 9, 1, 10))
    assert(Stats.percentile(xs, 100) == Stats.Pct(10.0, 10, 0, 10))
    assert(Stats.percentile(xs.reverse, 91) == Stats.Pct(10.0, 10, 0, 10))
    // ties: the tail beyond counts only strictly larger samples
    assert(Stats.percentile(Seq(1.0, 2.0, 2.0, 2.0, 3.0), 50) == Stats.Pct(2.0, 3, 1, 5))
    assert(Stats.percentile(Seq(4.0), 90) == Stats.Pct(4.0, 1, 0, 1))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("span self-time is duration minus the time covered by child spans") {
    val p = Span(1, 0, "q", "query", 100, 200)
    assert(Spans.selfTimeNs(p, Nil) == 100)
    assert(Spans.selfTimeNs(p, Seq(Span(2, 1, "build", "build", 100, 130),
      Span(3, 1, "action", "action", 150, 200))) == 20)
    // overlapping children count once; parts outside the parent are clipped
    assert(Spans.selfTimeNs(p, Seq(Span(2, 1, "a", "x", 110, 150),
      Span(3, 1, "b", "x", 140, 160), Span(4, 1, "c", "x", 190, 260))) == 40)
    assert(Spans.selfTimeNs(p, Seq(Span(2, 1, "a", "x", 10, 90))) == 100)
  }
}
