package graft.media

/** The media containers' fixed-width fields, defined once: little-endian
  * (RIFF/WAVE, AVI, BMP) and big-endian (PNG, JPEG) integer reads and
  * writes at a byte offset, and 4-byte ASCII tags. Reads past the end
  * throw, which every decoder's catch turns into a quarantine.
  */
private[media] object Bytes {
  def le16(b: Array[Byte], off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  def le32(b: Array[Byte], off: Int): Int = le16(b, off) | (le16(b, off + 2) << 16)
  def be16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  def be32(b: Array[Byte], off: Int): Int = (be16(b, off) << 16) | be16(b, off + 2)

  def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }
  def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    putLe16(b, off, v); putLe16(b, off + 2, v >> 16)
  }
  def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
    b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
  }

  /** The 4-byte tag at `off`, or "" when fewer than 4 bytes remain. */
  def tag(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length) new String(b, off, 4, "US-ASCII") else ""
  def putTag(b: Array[Byte], off: Int, t: String): Unit =
    System.arraycopy(t.getBytes("US-ASCII"), 0, b, off, 4)

  /** Sequential little-endian writer over `out`, from offset 0. */
  final class LeWriter(out: Array[Byte]) {
    var off = 0
    def tag(t: String): Unit = { putTag(out, off, t); off += 4 }
    def le16(vs: Int*): Unit = vs.foreach { v => putLe16(out, off, v); off += 2 }
    def le32(vs: Int*): Unit = vs.foreach { v => putLe32(out, off, v); off += 4 }
  }
}
