package graft.codec

/** Codec knobs, mirroring the reference's only exposed configuration
  * `configure(max_depth, block_size)` (/root/reference/src/btrblocks.rs:22-24;
  * tests use configure(3, 65536) at /root/reference/src/lib.rs:426).
  *
  * No global state — threaded explicitly through encoders (the reference
  * uses a C++ global; we deliberately don't).
  *
  * @param maxCascadeDepth max scheme-cascade depth (sub-streams of a scheme
  *        are re-compressed with depth-1; 0 = always Uncompressed)
  * @param blockSize tuples per chunk (the compression unit)
  * @param maxChunkBytes byte budget per chunk on top of the row count: a
  *        chunk also closes once its buffered string bytes reach this, so
  *        task memory stays bounded for arbitrarily wide rows (a 100 TB
  *        crawl corpus has multi-MB documents; 65536 of them would
  *        otherwise buffer gigabytes per task). Our extension — the
  *        reference's fixed row-count chunks have no such guard.
  */
final case class BtrConfig(
    maxCascadeDepth: Int = 3,
    blockSize: Int = 65536,
    maxChunkBytes: Long = 128L << 20)

object BtrConfig {
  val default: BtrConfig = BtrConfig()
}

/** Column type tags, matching the reference enum values
  * (/root/reference/src/btrblocks.rs:77-89): Integer=0, Double=1, String=2.
  */
object ColType {
  val Integer: Byte = 0
  val Double: Byte = 1
  val String: Byte = 2

  def name(t: Int): String = t match {
    case 0 => "int"
    case 1 => "double"
    case 2 => "string"
    case other => s"type$other"
  }
}
