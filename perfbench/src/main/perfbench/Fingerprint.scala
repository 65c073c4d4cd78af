package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import scala.util.hashing.MurmurHash3

/** Order-independent fingerprint of a result: row count, schema hash and the
  * sum (mod 2^64) of a 64-bit hash per row, so it is the same for any row
  * order and any partitioning, and differs when a row is added, dropped,
  * duplicated or changed. Values are rendered canonically first: doubles
  * at full precision, arrays and structs element by element, maps by sorted
  * key, binary as hex. */
object Fingerprint {

  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    f"${rows.length}:${hash64(schema.simpleString)}%016x:$sum%016x"
  }

  /** Fingerprint of a collected DataFrame: the op's full result. */
  def of(df: org.apache.spark.sql.DataFrame): String = of(df.schema, df.collect())

  /** Fingerprint of a plain value (ingest counters). */
  def ofValue(v: Any): String = f"${hash64(canon(v))}%016x"

  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("(", ",", ")")
    case p: Product =>
      p.productIterator.map(canon).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e55ed).toLong & 0xffffffffL)
}
