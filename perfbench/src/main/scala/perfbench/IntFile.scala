package perfbench

import java.io.{BufferedOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.file.Files

/** Count, sum and an order-free hash of a multiset of ints: two files hold
  * the same multiset (up to hash collisions) iff their stats are equal.
  */
final case class IntStats(count: Long, sum: Long, mhash: Long) {
  def render: String = f"$count $sum $mhash%016x"
}

object IntStats {
  def parse(s: String): IntStats = {
    val Array(c, s1, h) = s.trim.split(' ')
    IntStats(c.toLong, s1.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

/** The reference's native input: one line of space-delimited base-10 ints.
  * Inputs are generated from a seed; sorted outputs are checked against the
  * generator's stats as they are read back.
  */
object IntFile {

  /** Values the reference mishandled or that sit on a boundary; each lands
    * at a seeded position of every generated file.
    */
  val EdgeValues: Seq[Int] =
    Seq(Int.MaxValue, Int.MinValue, 999999, 1000000, 999999999, 0, -1)

  /** SplitMix64 finalizer: the per-value term of the multiset hash. */
  def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Writes `n` uniform int32 values drawn from `seed` (edge values
    * included) to `file` as a single line; returns their stats.
    */
  def generate(file: File, n: Int, seed: Long): IntStats = {
    require(n >= EdgeValues.size)
    val rnd = new java.util.SplittableRandom(seed)
    val edgeAt = EdgeValues.indices.map(i => (i.toLong * n / EdgeValues.size).toInt +
      rnd.nextInt(n / EdgeValues.size) -> EdgeValues(i)).toMap
    val tmp = new File(file.getPath + ".tmp")
    val out = new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20)
    val digits = new Array[Byte](11)
    var sum = 0L
    var mhash = 0L
    try {
      var i = 0
      while (i < n) {
        val v = edgeAt.getOrElse(i, rnd.nextInt())
        if (i > 0) out.write(' ')
        writeInt(out, v, digits)
        sum += v
        mhash += mix(v)
        i += 1
      }
    } finally out.close()
    Files.move(tmp.toPath, file.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    IntStats(n, sum, mhash)
  }

  private def writeInt(out: BufferedOutputStream, v: Int, buf: Array[Byte]): Unit = {
    if (v == Int.MinValue) { out.write("-2147483648".getBytes("US-ASCII")); return }
    var x = math.abs(v)
    var p = buf.length
    while ({ p -= 1; buf(p) = ('0' + x % 10).toByte; x /= 10; x != 0 }) ()
    if (v < 0) { p -= 1; buf(p) = '-' }
    out.write(buf, p, buf.length - p)
  }

  /** Reads the `part-*` files of a sort's output directory in name order.
    * Returns their stats, or why they are not a sorted output.
    */
  def readSorted(dir: File): Either[String, IntStats] = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    if (parts.isEmpty) return Left(s"no part files in $dir")
    var count = 0L
    var sum = 0L
    var mhash = 0L
    var prev = Long.MinValue
    // one token may span buffer refills and files end with a complete token
    var inToken = false
    var neg = false
    var x = 0L
    var nd = 0
    val buf = new Array[Byte](1 << 20)
    def endToken(name: String): Option[String] = {
      inToken = false
      if (nd == 0 || nd > 10) return Some(s"malformed token in $name")
      val v = if (neg) -x else x
      if (v < Int.MinValue || v > Int.MaxValue) return Some(s"out of range in $name")
      if (v < prev) return Some(s"order broken in $name: $v after $prev")
      prev = v
      count += 1
      sum += v
      mhash += mix(v)
      None
    }
    for (f <- parts) {
      val in = new FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) {
            val b = buf(i)
            if (b == ' ' || b == '\n') {
              if (inToken) endToken(f.getName).foreach(e => return Left(e))
            } else if (!inToken) {
              inToken = true; neg = b == '-'; nd = 0; x = 0
              if (!neg) {
                if (b < '0' || b > '9') return Left(s"malformed token in ${f.getName}")
                x = b - '0'; nd = 1
              }
            } else {
              if (b < '0' || b > '9') return Left(s"malformed token in ${f.getName}")
              x = x * 10 + (b - '0'); nd += 1
            }
            i += 1
          }
          n = in.read(buf)
        }
        if (inToken) endToken(f.getName).foreach(e => return Left(e))
      } finally in.close()
    }
    Right(IntStats(count, sum, mhash))
  }
}
