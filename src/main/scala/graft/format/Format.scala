package graft.format

/** On-disk btr-spark format: a directory holding
  *   - `blocks/part-NNNNN` — one raw block file per writer task, a sequence
  *     of CRC'd chunk frames with per-column zone maps (BlockFiles, frame
  *     version 6)
  *   - `_btr_zones.bin` — the CRC'd file-level zone index (ZoneIndex,
  *     version 3)
  *   - `_btr_manifest.json` — schema + config + stats, the publish marker
  * or, for incremental and resumable writes, `batch=<id>/` sub-tables of
  * that same shape, read as the contiguous published prefix. Block files
  * and the zone index are read only at their current version: a table
  * written by an older build must be rewritten.
  *
  * Spark-native re-expression of the reference's btr directory
  * (`metadata` + `column{i}_part{j}` blobs, /root/reference/src/btrblocks.rs:668-672,
  * metadata layout :121-199). We keep real column names in the manifest — the
  * reference loses them (/root/reference/src/btrblocks.rs:181-198) — and add
  * per-chunk zone maps (min/max) the reference lacks, enabling chunk pruning
  * before decode.
  *
  * `CompressedPart` is the in-memory result of encoding one column of one
  * chunk; `BlockFiles.frameChunk` serializes a chunk's parts into a frame.
  */
final case class CompressedPart(
    numRows: Int,
    colName: String,
    colType: Int, // ColType: 0=int, 1=double, 2=string
    scheme: String, // human-readable scheme tree (lineage/metrics)
    rawBytes: Long,
    bytes: Array[Byte],
    // the chunk's zone (ColZone): extrema over the NON-NULL values, the
    // null count and row count, and a numeric chunk's exact non-null sum
    zone: ColZone,
    // null extension (round-5): the reference's effective model is non-null
    // (SURVEY §1.2) — this engine extends it with a per-chunk validity
    // bitmap. bit i set = row i is NULL (placeholder value stored in the
    // blob: 0 / 0.0 / ""); null when the chunk has no nulls.
    nullBits: Array[Byte] = null)

final case class ColumnMeta(name: String, colType: Int, nullable: Boolean = false)

/** Per-column write totals (north rule: persisted codec-choice metrics):
  * folded per block file next to the zone fold and summed into the
  * manifest, so `BtrTable.stats` reads them without scanning the data.
  */
final case class ColumnStat(
    rawBytes: Long, encBytes: Long, chunks: Long, rows: Long, schemes: Seq[String]) {
  def +(o: ColumnStat): ColumnStat =
    ColumnStat(rawBytes + o.rawBytes, encBytes + o.encBytes, chunks + o.chunks,
      rows + o.rows, (schemes ++ o.schemes).distinct.sorted)
}

/** Manifest mirroring the reference's FileMetadata{num_columns, num_chunks,
  * parts} (/root/reference/src/btrblocks.rs:121-199) plus checkpoint lineage
  * for resumable runs (north rule).
  */
final case class BtrManifest(
    columns: Seq[ColumnMeta],
    numPartitions: Int,
    blockSize: Int,
    maxCascadeDepth: Int,
    numRows: Long,
    rawBytes: Long,
    encBytes: Long,
    completedPartitions: Seq[Int],
    columnStats: Seq[ColumnStat] = Nil) { // index-aligned with columns
  def ratio: Double = if (encBytes == 0) 0.0 else rawBytes.toDouble / encBytes
}

object BtrManifest {
  private def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def toJson(m: BtrManifest): String = {
    val cols = m.columns
      .map(c => s"""{"name":"${esc(c.name)}","colType":${c.colType},"nullable":${c.nullable}}""")
      .mkString("[", ",", "]")
    val done = m.completedPartitions.mkString("[", ",", "]")
    // inner keys deliberately differ from the top-level field names: the
    // minimal parser matches fields by first regex occurrence
    val stats = m.columnStats
      .map(s => s"""{"raw":${s.rawBytes},"enc":${s.encBytes},"chunks":${s.chunks},""" +
        s""""rows":${s.rows},"schemes":${s.schemes.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")}}""")
      .mkString("[", ",", "]")
    s"""{"columns":$cols,"numPartitions":${m.numPartitions},"blockSize":${m.blockSize},""" +
      s""""maxCascadeDepth":${m.maxCascadeDepth},"numRows":${m.numRows},""" +
      s""""rawBytes":${m.rawBytes},"encBytes":${m.encBytes},"completedPartitions":$done,""" +
      s""""columnStats":$stats}"""
  }

  /** Minimal JSON parse (manifest is machine-written, flat, known shape). */
  def fromJson(json: String): BtrManifest = {
    def longField(name: String): Long = {
      val m = ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
      m.map(_.group(1).toLong).getOrElse(0L)
    }
    // `nullable` is optional: manifests from before the null extension
    // (round 4 and earlier) omit it and parse as non-null — correct, since
    // those tables were written by a null-rejecting encoder
    val colRe = "\\{\"name\":\"((?:[^\"\\\\]|\\\\.)*)\",\"colType\":(\\d)(?:,\"nullable\":(true|false))?\\}".r
    val cols = colRe
      .findAllMatchIn(json)
      .map(m => ColumnMeta(unesc(m.group(1)), m.group(2).toInt, m.group(3) == "true"))
      .toSeq
    val doneRe = "\"completedPartitions\"\\s*:\\s*\\[([^\\]]*)\\]".r
    val done = doneRe
      .findFirstMatchIn(json)
      .map(_.group(1).trim)
      .filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq.empty)
    val str = "\"((?:[^\"\\\\]|\\\\.)*)\""
    val statRe =
      ("\\{\"raw\":(-?\\d+),\"enc\":(-?\\d+),\"chunks\":(-?\\d+)," +
        "\"rows\":(-?\\d+),\"schemes\":\\[((?:" + str + ",?)*)\\]\\}").r
    val stats = statRe.findAllMatchIn(json).map(m =>
      ColumnStat(m.group(1).toLong, m.group(2).toLong, m.group(3).toLong, m.group(4).toLong,
        str.r.findAllMatchIn(m.group(5)).map(x => unesc(x.group(1))).toSeq)).toSeq
    BtrManifest(
      columns = cols,
      numPartitions = longField("numPartitions").toInt,
      blockSize = longField("blockSize").toInt,
      maxCascadeDepth = longField("maxCascadeDepth").toInt,
      numRows = longField("numRows"),
      rawBytes = longField("rawBytes"),
      encBytes = longField("encBytes"),
      completedPartitions = done,
      columnStats = stats)
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
