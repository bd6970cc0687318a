package graft

import org.scalatest.funsuite.AnyFunSuite

/** Debug: token-by-token LZ4 sequence diff between the reference's
  * compressed frame and Lz4Block's recompression of the same input.
  */
class Lz4Dbg extends AnyFunSuite {
  private def tokens(b: Array[Byte], srcLen: Int): Vector[(Int, Int, Int, Int)] = {
    // (srcPos, litLen, matchOff, matchLen) — matchLen = -1 for last literals
    var i = 0
    var pos = 0
    val out = Vector.newBuilder[(Int, Int, Int, Int)]
    while (i < b.length) {
      val tok = b(i) & 0xff; i += 1
      var lit = tok >>> 4
      if (lit == 15) { var x = 0; do { x = b(i) & 0xff; i += 1; lit += x } while (x == 255) }
      i += lit
      pos += lit
      if (i >= b.length) { out += ((pos - lit, lit, 0, -1)) }
      else {
        val off = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8); i += 2
        var ml = (tok & 0xf) + 4
        if ((tok & 0xf) == 15) { var x = 0; do { x = b(i) & 0xff; i += 1; ml += x } while (x == 255) }
        out += ((pos - lit, lit, off, ml))
        pos += ml
      }
    }
    out.result()
  }

  test("diff") {
    if (sys.env.contains("LZ4DBG")) {
      val path = sys.env("LZ4DBG")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      var i = 0
      def uvarint(): Long = {
        var v = 0L; var s = 0; var x = 0
        do { x = bytes(i) & 0xff; i += 1; v |= (x & 0x7fL) << s; s += 7 } while ((x & 0x80) != 0)
        v
      }
      var frameIx = 0
      while (i < bytes.length) {
        val code = bytes(i) & 0xff; i += 1
        if (code != 0xff) {
          val total = ((uvarint() << 4) | (code & 0xf)).toInt
          if ((code & 0x40) != 0) {
            i += 1 // fmt
            val st = i
            val usize = uvarint().toInt
            val zlen = total - 1 - (i - st)
            val comp = java.util.Arrays.copyOfRange(bytes, i, i + zlen); i += zlen
            val un = new Array[Byte](usize)
            net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
              .decompress(comp, un)
            val dst = new Array[Byte](usize)
            val n = graft.sources.Lz4Block.compress(un, usize, dst)
            val mine = java.util.Arrays.copyOfRange(dst, 0, n)
            if (!java.util.Arrays.equals(mine, comp)) {
              println(s"== frame $frameIx raw=$usize ref=${comp.length} mine=$n")
              val rt = tokens(comp, usize)
              val mt = tokens(mine, usize)
              val k = rt.zip(mt).indexWhere { case (a, b) => a != b }
              println(s"diverge at token $k of ref=${rt.length} mine=${mt.length}")
              for (j <- math.max(0, k - 3) to math.min(k + 4, math.min(rt.length, mt.length) - 1)) {
                println(f"  tok $j%5d ref=${rt(j)} mine=${mt(j)}")
              }
              // context bytes around the divergent source position
              val p = rt(math.max(k, 0))._1
              println(s"  src bytes around $p: " + un.slice(math.max(0, p - 8), p + 24)
                .map(x => f"${x & 0xff}%02x").mkString(" "))
              sys.env.get("LZ4DBG_RANGE").foreach { r =>
                val Array(lo, hi) = r.split("-").map(_.toInt)
                println(s"  ref tokens covering [$lo,$hi]:")
                for ((t, j) <- rt.zipWithIndex
                     if t._1 + t._2 + math.max(t._4, 0) >= lo && t._1 <= hi)
                  println(f"    tok $j%5d $t  (lit ${t._1}-${t._1 + t._2}, match src ${t._1 + t._2 - t._3}..)")
              }
            } else println(s"== frame $frameIx OK ($usize raw)")
          } else i += total
          frameIx += 1
        }
      }
    }
  }
}
