package graft.util

import java.security.MessageDigest

/** Lower-case hex SHA-256: the `media_ref` contract (`img://<hex>`). The
  * corpus generators author refs with it and the converters recover them
  * from the embedded image bytes, so both sides share this one copy. */
object Sha256 {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  def hex(s: String): String = hex(s.getBytes("UTF-8"))

  def hex(data: Array[Byte]): String = {
    val md = digest.get()
    md.reset()
    val bytes = md.digest(data)
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = hexChars((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
