package graft.codec

/** Deterministic sample extraction for the greedy scheme selector:
  * `sampleRuns` evenly-spaced runs of `sampleRunLen` consecutive values.
  * Runs (not random points) preserve run-length structure so RLE is
  * estimable — per the BtrBlocks paper's sampling argument.
  */
object Sampling {

  /** Returns (off, len, backing array). If the input is small, returns the
    * input itself without copying.
    */
  def sampleInts(v: Array[Int], off: Int, len: Int, cfg: BtrConfig): (Int, Int, Array[Int]) = {
    val target = cfg.sampleRuns * cfg.sampleRunLen
    if (len <= target) return (off, len, v)
    val out = new Array[Int](target)
    var o = 0
    var r = 0
    while (r < cfg.sampleRuns) {
      val start = off + runStart(r, len, cfg)
      System.arraycopy(v, start, out, o, cfg.sampleRunLen)
      o += cfg.sampleRunLen
      r += 1
    }
    (0, target, out)
  }

  def sampleDoubles(v: Array[Double], off: Int, len: Int, cfg: BtrConfig): (Int, Int, Array[Double]) = {
    val target = cfg.sampleRuns * cfg.sampleRunLen
    if (len <= target) return (off, len, v)
    val out = new Array[Double](target)
    var o = 0
    var r = 0
    while (r < cfg.sampleRuns) {
      val start = off + runStart(r, len, cfg)
      System.arraycopy(v, start, out, o, cfg.sampleRunLen)
      o += cfg.sampleRunLen
      r += 1
    }
    (0, target, out)
  }

  /** Start offset of sample run r within a chunk of `len` values. */
  private[codec] def runStart(r: Int, len: Int, cfg: BtrConfig): Int = {
    val stride = (len - cfg.sampleRunLen).toLong
    ((stride * r) / math.max(1, cfg.sampleRuns - 1)).toInt
  }
}
