package graft.sources

/** LZ4 block compressor producing byte-identical output to the encoder the
  * reference engine uses for ZNG/VNG frames (zio/zngio/writer.go:186
  * `lz4.Compressor`, pierrec/lz4 v4.1.18 fast-scan strategy).
  *
  * Why byte-identical matters: the lake records each data object's on-disk
  * byte size in commit metadata, and the reference's ztest corpus asserts
  * those sizes literally (`121B bytes`, `size:33493`). Any LZ4 encoder is
  * format-correct, but only one match-finding strategy reproduces the
  * reference's sizes. The algorithm below is the classic LZ4 fast scan —
  * a 64 Ki-entry hash table over 6-byte sequences, probes at si/si+1/si+2,
  * adaptive skip on incompressible stretches — implemented against the
  * public LZ4 block format spec.
  *
  * Semantics:
  *  - returns the compressed length, or 0 when the input is incompressible
  *    (compressed form would not fit in a dst of the input's size) — the
  *    caller then stores the frame raw, exactly like the reference writer.
  *  - each call starts with an empty table (the reference zeroes the
  *    table between frames so output is deterministic per frame).
  *
  * Positions are stored as uint16 offsets from a 64 KiB block base: on
  * lookup the position is rebuilt relative to `si &^ 0xffff`, falling back
  * to the previous 64 KiB block when that lands ahead of the cursor. An
  * in-use bitmap distinguishes "never written" from "position 0".
  */
object Lz4Block {

  private final val MinMatch = 4
  private final val WinSizeLog = 16
  private final val WinSize = 1 << WinSizeLog
  private final val WinMask = WinSize - 1
  private final val HashLog = 16
  private final val HtSize = 1 << HashLog
  private final val MfLimit = 10 + MinMatch
  private final val Prime6 = 227718039650203L
  private final val AdaptSkipLog = 7

  def compressBound(n: Int): Int = n + n / 255 + 16

  /** Hash the low 6 bytes of x into [0, HtSize): shift the 6 bytes into
    * the top 48 bits, multiply, take the top HashLog bits. The shift form
    * (not a 48-bit mask) is load-bearing: it changes which UNEQUAL windows
    * collide, and the reference's frame bytes pin that collision pattern
    * (Lz4BlockSpec verifies 13/13 fixture frames byte-identical).
    */
  @inline private def blockHash(x: Long): Int =
    (((x << 16) * Prime6) >>> (64 - HashLog)).toInt

  @inline private def le64(src: Array[Byte], i: Int): Long =
    (src(i) & 0xffL) | ((src(i + 1) & 0xffL) << 8) |
      ((src(i + 2) & 0xffL) << 16) | ((src(i + 3) & 0xffL) << 24) |
      ((src(i + 4) & 0xffL) << 32) | ((src(i + 5) & 0xffL) << 40) |
      ((src(i + 6) & 0xffL) << 48) | ((src(i + 7) & 0xffL) << 56)

  @inline private def le32(src: Array[Byte], i: Int): Int =
    (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8) |
      ((src(i + 2) & 0xff) << 16) | ((src(i + 3) & 0xff) << 24)

  /** A reusable compressor (one hash table). NOT thread-safe; allocate one
    * per writer/task or use the thread-local `compress` below.
    */
  final class Compressor {
    private val table = new Array[Char](HtSize) // uint16 slots
    private val inUse = new Array[Int](HtSize / 32)

    private def reset(): Unit = java.util.Arrays.fill(inUse, 0)

    /** Presumptive match position for hash h at cursor si (may be a false
      * positive — always verified against the input bytes by the caller).
      */
    @inline private def get(h: Int, si: Int): Int = {
      var i = 0
      if ((inUse(h >>> 5) & (1 << (h & 31))) != 0) i = table(h).toInt
      i += si & ~WinMask
      if (i >= si) i -= WinSize // previous 64 KiB block (may go negative)
      i
    }

    @inline private def put(h: Int, si: Int): Unit = {
      table(h) = si.toChar
      inUse(h >>> 5) |= 1 << (h & 31)
    }

    /** Compress src[0,srcLen) into dst; returns compressed length or 0 when
      * incompressible / would overflow dst.
      */
    def compressBlock(src: Array[Byte], srcLen: Int, dst: Array[Byte]): Int = {
      reset()
      // with dst sized to the input, "doesn't fit" means "not worth
      // compressing" — mirror the reference writer's raw-frame fallback
      val isNotCompressible = dst.length < compressBound(srcLen)

      var si = 0
      var di = 0
      var anchor = 0
      val sn = srcLen - MfLimit

      if (sn > 0) {
        var continueScan = true
        while (continueScan && si < sn) {
          val matchV = le64(src, si)
          var h = blockHash(matchV)
          val h2 = blockHash(matchV >>> 8)

          val ref = get(h, si)
          val ref2 = get(h2, si + 1)
          put(h, si)
          put(h2, si + 1)

          var offset = si - ref
          var matched = true

          if (offset <= 0 || offset >= WinSize ||
              (matchV & 0xffffffffL).toInt != le32(src, ref)) {
            // probe si+1, then si+2, then adaptive skip
            h = blockHash(matchV >>> 16)
            val ref3 = get(h, si + 2)
            si += 1
            offset = si - ref2
            if (offset <= 0 || offset >= WinSize ||
                ((matchV >>> 8) & 0xffffffffL).toInt != le32(src, ref2)) {
              si += 1
              offset = si - ref3
              put(h, si)
              if (offset <= 0 || offset >= WinSize ||
                  ((matchV >>> 16) & 0xffffffffL).toInt != le32(src, ref3)) {
                si += 2 + ((si - anchor) >> AdaptSkipLog)
                matched = false
              }
            }
          }

          if (matched) {
            var lLen = si - anchor
            var mLen = MinMatch // bytes already known to match
            // extend the match backwards, shrinking the literal run
            var tOff = si - offset - 1
            while (lLen > 0 && tOff >= 0 && src(si - 1) == src(tOff)) {
              si -= 1; tOff -= 1; lLen -= 1; mLen += 1
            }
            // si is the match start; skip the matched prefix and remember
            // the base so the final length encodes as (actual - MinMatch)
            val base = si + MinMatch
            si += mLen
            // forward extension in 8-byte batches
            var scanning = true
            while (scanning && si + 8 <= sn) {
              val x = le64(src, si) ^ le64(src, si - offset)
              if (x == 0L) si += 8
              else {
                si += java.lang.Long.numberOfTrailingZeros(x) >> 3
                scanning = false
              }
            }
            mLen = si - base // encoded match length (actual - MinMatch)

            if (di >= dst.length) return 0
            dst(di) = (if (mLen < 0xf) mLen else 0xf).toByte

            if (lLen < 0xf) dst(di) = (dst(di) | (lLen << 4)).toByte
            else {
              dst(di) = (dst(di) | 0xf0).toByte
              di += 1
              var l = lLen - 0xf
              while (l >= 0xff) {
                if (di >= dst.length) return 0
                dst(di) = 0xff.toByte; di += 1; l -= 0xff
              }
              if (di >= dst.length) return 0
              dst(di) = l.toByte
            }
            di += 1

            if (di + lLen > dst.length) return 0
            System.arraycopy(src, anchor, dst, di, lLen)
            di += lLen + 2
            anchor = si

            if (di > dst.length) return 0
            dst(di - 2) = offset.toByte
            dst(di - 1) = (offset >> 8).toByte

            if (mLen >= 0xf) {
              var m = mLen - 0xf
              while (m >= 0xff && di < dst.length) {
                dst(di) = 0xff.toByte; di += 1; m -= 0xff
              }
              if (di >= dst.length) return 0
              dst(di) = m.toByte
              di += 1
            }
            if (si >= sn) continueScan = false
            else {
              // hash match end-2 so overlapping tails remain findable
              val h3 = blockHash(le64(src, si - 2))
              put(h3, si - 2)
            }
          }
        }
      }

      // last literals
      if (isNotCompressible && anchor == 0) return 0
      if (di >= dst.length) return 0
      var lLen = srcLen - anchor
      if (lLen < 0xf) dst(di) = (lLen << 4).toByte
      else {
        dst(di) = 0xf0.toByte
        di += 1
        var l = lLen - 0xf
        while (l >= 0xff) {
          if (di >= dst.length) return 0
          dst(di) = 0xff.toByte; di += 1; l -= 0xff
        }
        if (di >= dst.length) return 0
        dst(di) = l.toByte
      }
      di += 1
      if (isNotCompressible && di >= anchor) return 0
      if (di + srcLen - anchor > dst.length) return 0
      System.arraycopy(src, anchor, dst, di, srcLen - anchor)
      di + (srcLen - anchor)
    }
  }


  private val local = new ThreadLocal[Compressor] {
    override def initialValue(): Compressor = new Compressor
  }

  /** Thread-local convenience: compress src[0,len) into a dst of the same
    * size; 0 = incompressible (store raw).
    */
  def compress(src: Array[Byte], len: Int, dst: Array[Byte]): Int =
    local.get().compressBlock(src, len, dst)

  private val decompressor = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()

  /** Inflate the block src[off, off+len) of untrusted file bytes, which
    * must decode to exactly `size` bytes: a malformed block, any other
    * result length, or a `size` no block of `len` bytes can reach (one
    * input byte yields at most 255 output bytes) is a corrupt `format`
    * object.
    */
  def decompress(src: Array[Byte], off: Int, len: Int, size: Long, format: String): Array[Byte] = {
    def corrupt(why: String): Nothing =
      throw new IllegalArgumentException(s"$format: corrupt LZ4 block ($why)")
    if (size < 0 || size > 255L * len) corrupt(s"$len bytes cannot inflate to $size")
    val out = new Array[Byte](size.toInt)
    val n =
      try decompressor.decompress(src, off, len, out, 0, out.length)
      catch { case e: net.jpountz.lz4.LZ4Exception => corrupt(e.getMessage) }
    if (n != size) corrupt(s"inflated to $n bytes, expected $size")
    out
  }
}
