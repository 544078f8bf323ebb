package graft.codec

import java.io.ByteArrayOutputStream

/** Delta + zigzag + varint codec for coordinate-like int sequences.
  *
  * The reference plans OSM-pbf-style delta encoding of Hilbert-adjacent
  * coordinates (`/root/reference/README.md` "Coordinate storage — Future
  * work"); the north rule asks for these compact encodings mirrored as
  * codec UDFs. Layout: varint(count) then for each value
  * varint(zigzag(v[i] - v[i-1])) with v[-1] = 0. Hilbert-sorted neighbors
  * have tiny deltas, so this typically shrinks coordinate arrays ~4x.
  */
object DeltaZigZag {

  @inline def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  private def putVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def encode(values: Array[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream(values.length * 2 + 4)
    putVarint(out, values.length.toLong)
    var prev = 0L
    var i = 0
    while (i < values.length) {
      putVarint(out, zigzag(values(i).toLong - prev))
      prev = values(i).toLong
      i += 1
    }
    out.toByteArray
  }

  /** Inverse of [[encode]]. A corrupt blob fails with
    * IllegalArgumentException before anything is allocated: every value
    * takes at least one byte, so a count that is negative or larger than
    * the bytes left is rejected, as is a varint longer than 10 bytes.
    */
  def decode(bytes: Array[Byte]): Array[Int] = {
    var pos = 0
    def varint(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        if (shift > 63 || pos >= bytes.length)
          throw new IllegalArgumentException(s"truncated or overlong varint at byte $pos")
        b = bytes(pos) & 0xFF
        pos += 1
        result |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    val count = varint()
    if (count < 0 || count > bytes.length - pos)
      throw new IllegalArgumentException(
        s"delta-zigzag count $count does not fit the ${bytes.length - pos} bytes left")
    val n = count.toInt
    val out = new Array[Int](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += unzigzag(varint())
      out(i) = prev.toInt
      i += 1
    }
    out
  }
}
