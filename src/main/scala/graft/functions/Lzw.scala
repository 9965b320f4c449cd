package graft.functions

/** TIFF-flavor LZW codec (TIFF 6.0 §13) for the GeoTIFF sink's tile data.
  *
  * Conventions (the libtiff ones — TIFF LZW differs from GIF LZW):
  *  - codes are packed into bytes MSB-first;
  *  - table starts at 9-bit codes: 0-255 literals, 256 = Clear, 257 = EOI,
  *    first dictionary entry is 258;
  *  - "early change": the code width bumps to w+1 as soon as the NEXT free
  *    entry id reaches 2^w - 1 (one code earlier than GIF — the historical
  *    off-by-one every TIFF reader implements);
  *  - at entry id 4094 the encoder emits Clear and resets the table.
  *
  * Pure JVM, zero dependencies. The encoder's dictionary is a primitive
  * `Int` hash table cleared at each Clear code, so encoding allocates
  * nothing per input byte.
  */
object Lzw {

  private val Clear = 256
  private val Eoi = 257
  private val First = 258
  private val ResetAt = 4094
  private val SlotBits = 13
  private val Slots = 1 << SlotBits

  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var bitBuf = 0L
    var nBits = 0
    var width = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << width) | (code & 0xffffffffL)
      nBits += width
      while (nBits >= 8) {
        out.write(((bitBuf >>> (nBits - 8)) & 0xff).toInt)
        nBits -= 8
      }
    }
    // dictionary: (prefix code << 8 | next byte) -> code, in a primitive
    // open-addressing table (linear probing; at most 3,836 entries in 8,192
    // slots between resets); a free slot's key is -1
    val keys = new Array[Int](Slots)
    val codes = new Array[Int](Slots)
    java.util.Arrays.fill(keys, -1)
    var next = First

    put(Clear)
    var prefix = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (prefix < 0) prefix = b
      else {
        val key = (prefix << 8) | b
        var s = (key * 0x9e3779b1) >>> (32 - SlotBits)
        while (keys(s) != -1 && keys(s) != key) s = (s + 1) & (Slots - 1)
        if (keys(s) == key) prefix = codes(s)
        else {
          put(prefix)
          keys(s) = key
          codes(s) = next
          next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
          if (next == ResetAt) {
            put(Clear)
            java.util.Arrays.fill(keys, -1); next = First; width = 9
          }
          prefix = b
        }
      }
      i += 1
    }
    if (prefix >= 0) put(prefix)
    put(Eoi)
    if (nBits > 0) out.write(((bitBuf << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  def decode(data: Array[Byte], expectedLength: Int): Array[Byte] = {
    val out = new Array[Byte](expectedLength)
    var outPos = 0
    var bitBuf = 0L
    var nBits = 0
    var pos = 0
    var width = 9
    def read(): Int = {
      while (nBits < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xff); nBits += 8; pos += 1
      }
      if (nBits < width) return Eoi // ran off the end — treat as EOI
      val code = ((bitBuf >>> (nBits - width)) & ((1L << width) - 1)).toInt
      nBits -= width
      code
    }
    val table = new Array[Array[Byte]](4096)
    var next = First
    def reset(): Unit = { next = First; width = 9 }
    def emit(s: Array[Byte]): Unit = {
      System.arraycopy(s, 0, out, outPos, math.min(s.length, expectedLength - outPos))
      outPos += s.length
    }

    var prev: Array[Byte] = null
    var code = read()
    while (code != Eoi && outPos < expectedLength) {
      if (code == Clear) {
        reset()
        code = read()
        if (code == Eoi) return out
        prev = Array((code & 0xff).toByte)
        emit(prev)
      } else {
        val entry: Array[Byte] =
          if (code < 256) Array((code & 0xff).toByte)
          else if (code < next && table(code) != null) table(code)
          else {
            // KwKwK needs a previous string; reaching here without one
            // means the stream is corrupt (e.g. first code after Clear
            // is >= 258) — fail clean, not with a NullPointerException
            require(prev != null, s"corrupt LZW stream: code $code before any literal")
            prev :+ prev(0)
          }
        emit(entry)
        if (prev != null && next < 4096) {
          table(next) = prev :+ entry(0)
          next += 1
          // the decoder's table lags the encoder's by exactly one entry, so
          // its width bump fires one entry earlier (TIFF early change)
          if (next == (1 << width) - 2 && width < 12) width += 1
        }
        prev = entry
      }
      code = read()
    }
    out
  }
}
