package graft.util

/** Lower-case hex MD5 of a string's UTF-8 bytes. These strings name the
  * durable artifact roots under `java.io.tmpdir` (and catalog tables
  * keyed by corpus dir), so the encoding must never change: a different
  * name would silently cold-start every durable artifact.
  */
object Md5 {
  def hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
