package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent canonical hash of a query result over every row and
  * every column, computed by one Spark action (so it is the action that
  * both checks and times a query: unlike `.count()`, it cannot let the
  * optimizer prune output columns).
  *
  * Columns are taken in name order. Doubles and floats are rounded to six
  * decimals, half-even on the exact binary value, as the DuckDB oracle
  * compare (`scripts/check.py`) rounds them; map entries and nothing else
  * are re-ordered. Each row hashes to 64 bits and the row hashes are summed
  * modulo 2^64, so the result does not depend on row order or
  * partitioning, while a change of any single value changes it. */
object Canon {

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def round6(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d)
        .setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros
      // -0.0 and 0 round alike
      if (r.signum == 0) "0" else r.toPlainString
    }

  def value(v: Any): String = v match {
    case null => "␀"
    case d: Double => round6(d)
    case f: Float => round6(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 64-bit hash of one row whose fields are already in canonical order. */
  def rowHash(fields: Seq[Any]): Long = {
    val s = fields.map(value).mkString("␟")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Digest of an in-memory row set (rows laid out like `columns`). */
  def ofRows(columns: Seq[String], rows: Iterable[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(order.map(r.get)); n += 1 }
    Digest(n, sum)
  }

  /** Digest of a DataFrame, evaluated by one distributed Dataset action
    * (so query-execution listeners see it like any other action). */
  def of(df: DataFrame): Digest = {
    import df.sparkSession.implicits._
    val order = df.columns.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.mapPartitions { it =>
      var sum = 0L
      var n = 0L
      it.foreach { r => sum += rowHash(order.map(r.get)); n += 1 }
      Iterator.single((n, sum))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
