package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a result set. `record.py` computes the same
  * digest from DuckDB rows, so the two renderings must stay in step:
  *
  *   - columns are taken in name order, and the sorted names open the digest;
  *   - each cell renders with a type tag: `N` null, `b:1`/`b:0`, `i:<int>`,
  *     `f:<hex IEEE-754 bits>` for floats and decimals (compared as the
  *     nearest double, with -0.0 folded into 0.0), `s<utf8 length>:<text>`,
  *     `D:<iso date>`, `T:<epoch micros, UTC>`, `x:<hex>` for bytes,
  *     `[a,b]` for arrays, `{name=v,...}` for structs, `M{k=v,...}` for maps;
  *   - rows are sorted by their UTF-8 bytes and hashed with SHA-256.
  */
object Canon {

  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("|").getBytes(UTF_8))
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + order.map(_._1).mkString(",") + "\n").getBytes(UTF_8))
    lines.foreach { l => md.update(l); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  private def str(s: String): String = s"s${s.getBytes(UTF_8).length}:$s"

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(epochSecond: Long, nano: Int): Long =
    Math.addExact(Math.multiplyExact(epochSecond, 1000000L), (nano / 1000).toLong)

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: BigInt => s"i:$x"
    case x: java.math.BigInteger => s"i:$x"
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dbl(x.doubleValue)
    case x: scala.math.BigDecimal => dbl(x.toDouble)
    case s: String => str(s)
    case d: java.sql.Date => "D:" + d.toLocalDate
    case d: java.time.LocalDate => "D:" + d
    case t: java.sql.Timestamp => "T:" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "T:" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "T:" + micros(i.getEpochSecond, i.getNano)
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.map { case (n, i) => str(n) + "=" + cell(r.get(i)) }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(cell).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
