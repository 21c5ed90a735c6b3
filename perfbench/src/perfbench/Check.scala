package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row

/** Output checks that need no second engine: an order-insensitive
  * digest of a full query result, and plain-Scala reference answers
  * computed from the generated inputs. */
object Check {

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Multiset digest: row count plus the wrapping sum of a 64-bit hash
    * of each row, so row order does not matter but every row does. */
  def digest(rows: Iterable[Any]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
      n += 1
    }
    f"$n%d:$sum%016x"
  }

  // ------------------------------------------------------------------
  // corpus_curation references

  def shingles3(text: String): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  /** The training-split bucket of a document in plain Scala: its MD5's
    * first six hex digits as a number, mod 100. */
  def hashBucket(text: String): Int = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    (((md5(0) & 0xff) << 16) | ((md5(1) & 0xff) << 8) | (md5(2) & 0xff)) % 100
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
