package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Lz4Block byte-for-byte against the reference engine's own output:
  * the docs-tutorial .zng files were written by the reference's zng writer
  * (LZ4-compressed frames). For every compressed frame we decompress with
  * an independent decoder (jpountz) and recompress with Lz4Block — the
  * bytes must be IDENTICAL, proving lake object sizes / stats match the
  * reference's exactly.
  */
class Lz4BlockSpec extends AnyFunSuite {

  private def frames(path: String): Seq[(Int, Array[Byte], Array[Byte])] = {
    // returns (blockType, uncompressed, originalCompressed) per compressed frame
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val out = Vector.newBuilder[(Int, Array[Byte], Array[Byte])]
    var i = 0
    def uvarint(): Long = {
      var v = 0L; var s = 0
      var b = 0
      do { b = bytes(i) & 0xff; i += 1; v |= (b & 0x7fL) << s; s += 7 } while ((b & 0x80) != 0)
      v
    }
    while (i < bytes.length) {
      val code = bytes(i) & 0xff
      i += 1
      if (code == 0xff) () // EOS
      else {
        val t = (code >> 4) & 3
        val compressed = (code & 0x40) != 0
        val lenLow = code & 0xf
        val lenHi = uvarint()
        val total = ((lenHi << 4) | lenLow).toInt
        if (compressed) {
          val fmt = bytes(i) & 0xff; i += 1
          assert(fmt == 0, s"compression format $fmt")
          val start = i
          val usize = uvarint().toInt
          val zlen = total - 1 - (i - start)
          val comp = java.util.Arrays.copyOfRange(bytes, i, i + zlen)
          i += zlen
          val dec = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
          val un = new Array[Byte](usize)
          dec.decompress(comp, un)
          out += ((t, un, comp))
        } else i += total
      }
    }
    out.result()
  }

  for (f <- Seq("github1.zng", "prs.zng", "github2.zng")) {
    test(s"recompression is byte-identical to the reference writer: $f") {
      val fs = frames(s"/root/reference/docs/tutorials/$f")
      assert(fs.nonEmpty, "no compressed frames found")
      var checked = 0
      for (((t, un, comp), ix) <- fs.zipWithIndex) {
        val dst = new Array[Byte](un.length)
        val n = graft.sources.Lz4Block.compress(un, un.length, dst)
        assert(n == comp.length,
          s"frame $ix (type $t, ${un.length}B raw): got $n compressed bytes, reference ${comp.length}")
        val got = java.util.Arrays.copyOfRange(dst, 0, n)
        val diff = got.zip(comp).indexWhere { case (a, b) => a != b }
        assert(diff == -1, s"frame $ix: first byte divergence at offset $diff of $n")
        checked += 1
      }
      info(s"$checked compressed frames byte-identical")
    }
  }

  test("incompressible input returns 0 (raw frame fallback)") {
    val rnd = new scala.util.Random(7)
    val src = new Array[Byte](1000)
    rnd.nextBytes(src)
    val dst = new Array[Byte](src.length)
    assert(graft.sources.Lz4Block.compress(src, src.length, dst) == 0)
  }

  test("tiny input returns 0") {
    val src = "abc".getBytes
    val dst = new Array[Byte](3)
    assert(graft.sources.Lz4Block.compress(src, src.length, dst) == 0)
  }
}
