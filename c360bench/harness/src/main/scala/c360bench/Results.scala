package c360bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row

/** A result's identity: its row count and an order-insensitive hash of
  * every column of every row. Collecting the result (not `count()`) is
  * what forces every projected column and every sort to execute. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  private def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append('~')
    case r: Row =>
      sb.append('(')
      r.toSeq.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(')')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) =>
        val b = new StringBuilder; canon(k, b); b.append(':'); canon(x, b)
        b.toString
      }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    case x => sb.append(x.toString)
  }

  def of(rows: Iterable[Row]): Fingerprint = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val sb = new StringBuilder
      canon(r, sb)
      val d = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    Fingerprint(n, f"$sum%016x")
  }
}

final class WrongResult(msg: String) extends RuntimeException(msg)

/** Result goldens: one fingerprint per `<corpus>/<operation>` key, in a
  * flat JSON object. Recording mode fills them in; checking mode fails
  * an operation whose fingerprint differs or has no golden. */
final class Goldens(path: String, recording: Boolean) {
  private val known: mutable.Map[String, String] = {
    val m = mutable.TreeMap[String, String]()
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val Entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      Entry.findAllMatchIn(Files.readString(p)).foreach(e =>
        m(e.group(1)) = e.group(2))
    }
    m
  }
  private val seen = mutable.TreeMap[String, String]()

  def check(key: String, got: Fingerprint): Unit =
    if (recording) {
      seen.get(key).foreach(prev => if (prev != got.toString)
        throw new WrongResult(s"$key is not deterministic: $prev then $got"))
      seen(key) = got.toString
    } else known.get(key) match {
      case Some(want) if want == got.toString => ()
      case Some(want) => throw new WrongResult(s"$key: got $got, golden $want")
      case None => throw new WrongResult(s"$key: no golden recorded")
    }

  /** Merge what this run recorded into the goldens file. */
  def save(): Unit = if (recording) {
    known ++= seen
    val body = known.map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(path), body)
  }
}
