package graft.codec

/** Deterministic sample extraction for the greedy scheme selector:
  * `Runs` evenly-spaced runs of `RunLen` consecutive values.
  * Runs (not random points) preserve run-length structure so RLE is
  * estimable — per the BtrBlocks paper's sampling argument.
  */
object Sampling {
  final val Runs = 8
  final val RunLen = 128

  /** Returns (off, len, backing array). If the input is small, returns the
    * input itself without copying.
    */
  def sampleInts(v: Array[Int], off: Int, len: Int): (Int, Int, Array[Int]) = {
    val target = Runs * RunLen
    if (len <= target) return (off, len, v)
    val out = new Array[Int](target)
    var o = 0
    var r = 0
    while (r < Runs) {
      val start = off + runStart(r, len)
      System.arraycopy(v, start, out, o, RunLen)
      o += RunLen
      r += 1
    }
    (0, target, out)
  }

  def sampleDoubles(v: Array[Double], off: Int, len: Int): (Int, Int, Array[Double]) = {
    val target = Runs * RunLen
    if (len <= target) return (off, len, v)
    val out = new Array[Double](target)
    var o = 0
    var r = 0
    while (r < Runs) {
      val start = off + runStart(r, len)
      System.arraycopy(v, start, out, o, RunLen)
      o += RunLen
      r += 1
    }
    (0, target, out)
  }

  /** Start offset of sample run r within a chunk of `len` values. */
  private[codec] def runStart(r: Int, len: Int): Int = {
    val stride = (len - RunLen).toLong
    ((stride * r) / math.max(1, Runs - 1)).toInt
  }
}
