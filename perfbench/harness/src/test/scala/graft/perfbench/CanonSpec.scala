package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class CanonSpec extends AnyFunSuite {

  private val cols = Seq("b", "a", "c")
  private val rows = Seq(
    Row(1L, "x", 0.1234567),
    Row(2L, "y", null),
    Row(3L, "z", -2.5),
    Row(3L, "z", -2.5))

  test("the digest does not depend on row order") {
    val d = Canon.ofRows(cols, rows)
    assert(Canon.ofRows(cols, rows.reverse) == d)
    assert(Canon.ofRows(cols, rows.drop(2) ++ rows.take(2)) == d)
    assert(d.rows == 4)
  }

  test("changing any single value changes the digest") {
    val d = Canon.ofRows(cols, rows)
    val edits = Seq(
      rows.updated(0, Row(9L, "x", 0.1234567)),
      rows.updated(1, Row(2L, "Y", null)),
      rows.updated(2, Row(3L, "z", -2.6)),
      rows.updated(1, Row(2L, "y", 0.0)))
    edits.foreach(e => assert(Canon.ofRows(cols, e).hash != d.hash, e))
    // a duplicate row counts: dropping one copy changes the digest
    assert(Canon.ofRows(cols, rows.dropRight(1)).hash != d.hash)
  }

  test("floats are compared at six decimals, as the oracle compare does") {
    assert(Canon.round6(0.12345649) == "0.123456")
    assert(Canon.round6(0.12345651) == "0.123457")
    assert(Canon.round6(-0.0) == Canon.round6(0.0))
    val a = Canon.ofRows(cols, Seq(Row(1L, "x", 1.0000001)))
    val b = Canon.ofRows(cols, Seq(Row(1L, "x", 1.0000002)))
    assert(a == b)
  }

  test("the distributed digest equals the in-memory one for any partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val df = (0 until 500).map(i => (i.toLong, s"s$i", i / 7.0))
        .toDF("b", "a", "c")
      val expected = Canon.ofRows(df.columns.toSeq, df.collect().toSeq)
      assert(Canon.of(df) == expected)
      assert(Canon.of(df.repartition(7)) == expected)
      assert(Canon.of(df.orderBy($"a".desc).coalesce(1)) == expected)
      assert(Canon.of(df.select("c", "a", "b")) == expected)
    } finally spark.stop()
  }
}
