package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Result fingerprints. Every op materializes its whole result with
  * `collect()` — never `.count()`, which lets Catalyst prune columns
  * and drop the final sort — and compares it to an expectation the
  * same call did not produce. Batch outputs are compared as an
  * all-column, order-insensitive multiset hash. */
object Rows {

  /** Canonical text of one value. Floating values are rounded to 6
    * decimals: the same verb may sum in a different order on a
    * different partitioning, which moves the last ulp. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Math.round(d * 1e6).toString
    case f: Float => canon(f.toDouble)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
    case other => other.toString
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Order-insensitive multiset hash over all columns (sorted by
    * name, so column order does not matter either). */
  final case class Digest(rows: Long, sum: Long)

  def digest(rows: Array[Row], cols: Seq[String]): Digest = {
    val idx = cols.map(c => rows.headOption.map(_.fieldIndex(c)).getOrElse(0))
    Digest(rows.length.toLong,
      rows.iterator.map(r => hash64(idx.map(i => canon(r.get(i))).mkString("|"))).sum)
  }

  /** The digest of reference rows given as column -> value maps. */
  def digestMaps(rows: Seq[Map[String, Any]]): Digest = {
    val cols = rows.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    Digest(rows.size.toLong,
      rows.iterator.map(r => hash64(cols.map(c => canon(r(c))).mkString("|"))).sum)
  }

  def digest(df: DataFrame): (Digest, Array[Row]) = {
    val rows = df.collect()
    (digest(rows, df.columns.sorted.toSeq), rows)
  }
}
