package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Order-independent content digests: a multiset of items hashes to
  * (count, sum of 64-bit item hashes mod 2^64), so row order, partitioning
  * and file layout never change it, while a missing, extra or altered item
  * does. */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  def -(o: Digest): Digest = Digest(count - o.count, sum - o.sum)
  override def toString: String = f"$count:$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(':')
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Cosmos system fields: the store maintains them, so two documents that
    * differ only there hold the same content. */
  val SystemFields: Set[String] =
    Set("_rid", "_self", "_etag", "_ts", "_attachments", "_lsn")

  private val mapper = new ObjectMapper()

  /** Canonical document form: system fields dropped at the top level, keys
    * sorted at every depth, numbers by value (1.50 == 1.5). Null when the
    * line is not a JSON object. */
  def canonical(raw: String): String = {
    val node =
      try mapper.readTree(raw) catch { case _: Exception => null }
    if (node == null || !node.isObject) null
    else {
      val sb = new java.lang.StringBuilder(raw.length)
      render(node, sb, top = true)
      sb.toString
    }
  }

  private def render(n: JsonNode, sb: java.lang.StringBuilder, top: Boolean): Unit =
    if (n.isObject) {
      val names = new java.util.ArrayList[String]()
      n.fieldNames().forEachRemaining(f => if (!(top && SystemFields(f))) names.add(f))
      java.util.Collections.sort(names)
      sb.append('{')
      var i = 0
      while (i < names.size) {
        if (i > 0) sb.append(',')
        sb.append(mapper.writeValueAsString(names.get(i))).append(':')
        render(n.get(names.get(i)), sb, top = false)
        i += 1
      }
      sb.append('}')
    } else if (n.isArray) {
      sb.append('[')
      var i = 0
      while (i < n.size) {
        if (i > 0) sb.append(',')
        render(n.get(i), sb, top = false)
        i += 1
      }
      sb.append(']')
    } else if (n.isNumber) {
      val d = n.decimalValue().stripTrailingZeros()
      sb.append(if (d.signum == 0) "0" else d.toPlainString)
    } else sb.append(n.toString)

  private val canonicalUdf = udf((raw: String) => canonical(raw))

  /** Digest of a frame of raw JSON lines (column `raw`): one item per line,
    * hashed in canonical form. Computed in one distributed aggregate; the
    * hash sum runs in DECIMAL so it never overflows before the final mod. */
  def ofDocs(df: DataFrame, rawCol: String = "raw"): Digest = {
    val r = df.select(xxhash64(canonicalUdf(col(rawCol))).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  /** Total UTF-8 bytes of the lines of `df`, newline included. */
  def lineBytes(df: DataFrame, rawCol: String = "raw"): Long = {
    val r = df.agg(sum(octet_length(col(rawCol)) + 1)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Canonical text of one result cell: floating-point values at 6 decimals
    * (the DuckDB oracle compare's `f"{v:.6f}"`, round-half-even on the exact
    * binary value), nested values element-wise. */
  def cell(v: Any): String = v match {
    case null => "None"
    case d: Double => if (d.isNaN) "nan" else new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString
    case f: Float => cell(f.toDouble)
    case b: JBigDecimal => b.toPlainString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case o => o.toString
  }

  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Digest of collected query rows: columns ordered by name (the oracle
    * compare sorts them the same way), one item per row. */
  def ofRows(schema: StructType, rows: Seq[Row]): Digest = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    rows.foldLeft(empty) { (acc, r) =>
      acc + Digest(1L, hash64(order.map(i => cell(r.get(i))).mkString("\u001f")))
    }
  }
}
