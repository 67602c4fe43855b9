package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** Order-insensitive digest of a table: the row count plus the 64-bit
  * wrapping SUM of per-row hashes. A sum, not an XOR: XOR cancels a row
  * that appears an even number of times, so a duplicated row would leave
  * an XOR digest unchanged while this one moves by the row's hash. */
final case class Digest(rows: Long, hashSum: Long) {
  def add(h: Long): Digest = Digest(rows + 1, hashSum + h)
  def merge(o: Digest): Digest = Digest(rows + o.rows, hashSum + o.hashSum)
  override def toString: String = f"$rows:$hashSum%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  def ofHashes(hs: Iterator[Long]): Digest = hs.foldLeft(Empty)(_ add _)

  /** Hash of one row: xxhash64 over every column, in the frame's column
    * order, with a fixed seed. Null columns are folded in as a marker so
    * (null, x) and (x, null) hash apart. */
  private def rowHash(df: DataFrame) =
    xxhash64(df.columns.toIndexedSeq.flatMap(c =>
      Seq(col(c), col(c).isNull)) :+ lit(0x5eedL): _*)

  /** Digest of `df`, consuming every row and column in one Spark job.
    * `sumCol`, when given, is summed (as a long) in the same pass. */
  def of(df: DataFrame, sumCol: Option[String] = None): (Digest, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val extra = sumCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    df.select(rowHash(df), extra).as[(Long, Long)]
      .mapPartitions { it =>
        var d = Empty
        var s = 0L
        it.foreach { case (h, x) => d = d.add(h); s += x }
        Iterator.single((d.rows, d.hashSum, s))
      }
      .collect()
      .foldLeft((Empty, 0L)) { case ((d, s), (n, h, x)) =>
        (d.merge(Digest(n, h)), s + x)
      }
  }
}
