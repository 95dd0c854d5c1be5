package graftbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count plus two
  * wrapping 64-bit sums of each row's MD5. A row is rendered with its
  * columns in name order and every value in a type-tagged text form that
  * `perfbench/digest.py` reproduces from DuckDB's Python values, so the
  * engine's result and the DuckDB oracle's result digest alike exactly when
  * they hold the same multiset of rows (floats compare by their bits).
  *
  * The rows are rendered and hashed inside the tasks that produce them;
  * only three longs per partition reach the driver.
  */
object Digest {
  final case class Value(columns: String, rows: Long, h1: Long, h2: Long)

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L; var a = 0L; var b = 0L
      while (it.hasNext) {
        val r = it.next()
        sb.setLength(0)
        var k = 0
        while (k < order.length) {
          if (k > 0) sb.append('\u0001')
          render(sb, r, order(k), types(order(k)))
          k += 1
        }
        val h = ByteBuffer.wrap(md.digest(sb.toString.getBytes(UTF_8)))
        n += 1; a += h.getLong(0); b += h.getLong(8)
      }
      Iterator((n, a, b))
    }.collect()
    Value(fields.map(_.name).sorted.mkString(","),
      parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  private def render(sb: java.lang.StringBuilder, g: SpecializedGetters,
                     i: Int, dt: DataType): Unit =
    if (g.isNullAt(i)) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (g.getBoolean(i)) "b1" else "b0")
      case ByteType => sb.append('i').append(g.getByte(i).toLong)
      case ShortType => sb.append('i').append(g.getShort(i).toLong)
      case IntegerType => sb.append('i').append(g.getInt(i))
      case LongType => sb.append('i').append(g.getLong(i))
      case FloatType => float(sb, g.getFloat(i).toDouble)
      case DoubleType => float(sb, g.getDouble(i))
      case d: DecimalType =>
        sb.append('m').append(
          g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
      case _: StringType => sb.append('s').append(g.getUTF8String(i).toString)
      case BinaryType =>
        sb.append('x'); g.getBinary(i).foreach(x => sb.append(f"$x%02x"))
      case DateType => sb.append('d').append(LocalDate.ofEpochDay(g.getInt(i)))
      case TimestampType | TimestampNTZType => sb.append('t').append(g.getLong(i))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        var j = 0
        while (j < a.numElements()) {
          if (j > 0) sb.append(',')
          render(sb, a, j, et)
          j += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        sb.append('{')
        st.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          render(sb, r, j, st(j).dataType)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val entries = (0 until m.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          render(e, m.keyArray(), j, kt); e.append(':')
          render(e, m.valueArray(), j, vt)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case other => sb.append('?').append(String.valueOf(g.get(i, other)))
    }

  private def float(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("fNaN")
    else sb.append('f').append(f"${java.lang.Double.doubleToRawLongBits(d)}%016x")
}
