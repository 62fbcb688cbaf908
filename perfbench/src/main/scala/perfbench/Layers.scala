package perfbench

import graft.codec._
import graft.data.{FileRow, SourceCodeGen}
import graft.engine.{BlockFiles, BtrEncoder}
import graft.format.{FileZone, ZoneIndex}
import graft.sources.{FrameReader, IntArrayVector, StringArenaVector}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded replay of the ingest input's chunks through each layer's
  * public functions, with a span around every call: encode (selection and,
  * for strings, FSST training included, as the chunk encoder calls it) and
  * decode per column; the chunk encoder and framing; the block-file write
  * and the zone index; and the frame reader, its CRC checks and the columnar
  * vectors on the way back. Each step's output is checked against its input.
  */
object Layers {
  val Columns: Seq[String] = Seq("row_id", "repo", "path", "commit", "lang", "content")
  val IntSchemes: Seq[String] = Seq("Uncompressed", "OneValue", "RLE", "FOR+BitPack", "Dict", "Frequency")
  val Schemes: Seq[String] = (IntSchemes :+ "FSST").map(metricSafe)
  val Families: Seq[String] = Seq("dedup", "ann", "text", "mm", "stream")

  def metricSafe(s: String): String = s.replace('+', '_')

  private def field(r: FileRow, c: String): String = c match {
    case "repo" => r.repo
    case "path" => r.path
    case "commit" => r.commit
    case "lang" => r.lang
    case "content" => r.content
  }

  /** The ingest input's rows in the order its encoder sees them: input
    * file k, each file sorted on the range columns as the write's local sort
    * does, one chunk per file.
    */
  def rows(seed: Long): Array[FileRow] =
    (0 until Workloads.InputFiles).toArray.flatMap { k =>
      val b = BtrConfig.default.blockSize
      Array.tabulate(b)(i => SourceCodeGen.row(k.toLong * b + i, seed)).sortBy(r => (r.repo, r.path))
    }

  def run(ctx: Ctx, res: Result): Unit = {
    val cfg = BtrConfig.default
    val tr = ctx.tracer
    val input = rows(ctx.seed)
    val rawBytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val outBytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    input.grouped(cfg.blockSize).foreach { chunk =>
      tr.newRequest()
      val ids = chunk.map(_.row_id.toInt)
      rawBytes("row_id") += ids.length * 4L
      val iout = new BufWriter(1 << 16)
      val tag = tr.span("codec.encode.row_id")(IntCodec.encode(iout, ids, 0, ids.length, cfg.maxCascadeDepth, cfg))
      tr.add(s"codec.scheme_chunks.${metricSafe(IntCodec.schemeName(tag))}", 1)
      val enc = iout.result()
      outBytes("row_id") += enc.length
      val back = tr.span("codec.decode.row_id")(IntCodec.decode(enc))
      res.ok(java.util.Arrays.equals(back, ids))

      Columns.tail.foreach { c =>
        val values = chunk.map(r => field(r, c).getBytes(UTF_8))
        rawBytes(c) += values.iterator.map(_.length.toLong).sum
        val sb = new StrSlicesBuilder(1 << 16, values.length)
        values.foreach(sb.add)
        val slices = sb.result()
        val out = new BufWriter(1 << 16)
        val stag = tr.span(s"codec.encode.$c")(StringCodec.encodeSlices(out, slices, cfg.maxCascadeDepth, cfg))
        tr.add(s"codec.scheme_chunks.${metricSafe(StringCodec.schemeName(stag))}", 1)
        val blob = out.result()
        outBytes(c) += blob.length
        val d = tr.span(s"codec.decode.$c")(StringCodec.decodeSlices(new BufReader(blob)))
        res.ok(d.count == values.length && values.indices.forall(k =>
          java.util.Arrays.equals(d.data, d.starts(k), d.starts(k) + d.lens(k), values(k), 0, values(k).length)))
      }
    }

    val self = tr.selfMs
    def rate(bytes: Long, ms: Double): Double = if (ms > 0) bytes / 1e6 / (ms / 1e3) else 0.0
    Columns.foreach { c =>
      res.layer(s"codec.encode_mbps.$c", rate(rawBytes(c), self.getOrElse(s"codec.encode.$c", 0.0)), "MB/s")
      res.layer(s"codec.decode_mbps.$c", rate(rawBytes(c), self.getOrElse(s"codec.decode.$c", 0.0)), "MB/s")
      res.layer(s"codec.bytes_out.$c", outBytes(c).toDouble, "bytes")
    }
    Schemes.foreach(s => res.layer(s"codec.scheme_chunks.$s", tr.count(s"codec.scheme_chunks.$s"), "count"))

    engineAndReader(ctx, res, input, cfg)
  }

  private def engineAndReader(ctx: Ctx, res: Result, input: Array[FileRow], cfg: BtrConfig): Unit = {
    val tr = ctx.tracer
    val conf = ctx.hadoopConf
    val schema = StructType(Columns.map(c =>
      StructField(c, if (c == "row_id") IntegerType else StringType, nullable = true)))
    val colTypes = BtrEncoder.validateSchema(schema)
    val internal: Array[InternalRow] = input.map { r =>
      new GenericInternalRow(Array[Any](r.row_id.toInt) ++
        Columns.tail.map(c => UTF8String.fromString(field(r, c))))
    }
    tr.newRequest()
    val parts = tr.span("engine.chunk_encode")(
      new BtrEncoder.PartitionEncodeIterator(internal.iterator, schema, colTypes, cfg).toArray)
    val frames = tr.span("engine.frame")(
      parts.grouped(schema.length).map(p => BlockFiles.frameChunk(p.toSeq)).toArray)
    val dir = ctx.uri("layers_btr")
    ctx.rm(dir)
    val blocks = s"$dir/blocks"
    val fs = new org.apache.hadoop.fs.Path(blocks).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(blocks))
    val stat = tr.span("engine.write_frames")(BlockFiles.writeFrames(conf, blocks, 0, 0L, frames.iterator))
    res.ok(stat.numRows == input.length && stat.zones.isDefined)
    stat.zones.foreach(z => tr.span("format.zone_index_write")(
      ZoneIndex.write(conf, dir, Seq(FileZone("part-00000", z)))))
    val idx = tr.span("format.zone_index_read")(ZoneIndex.read(conf, dir))
    res.ok(idx.exists(_.length == 1))

    val file = s"$blocks/part-00000"
    val fileLen = fs.getFileStatus(new org.apache.hadoop.fs.Path(file)).getLen
    val reader = new FrameReader(file, conf)
    var rows = 0L
    var idSum = 0L
    var strBytes = 0L
    try {
      while (tr.span("reader.header_crc")(reader.nextHeader())) {
        rows += reader.numRows
        var c = 0
        while (c < reader.nCols) {
          val blob = tr.span("reader.blob")(reader.readBlob(c))
          if (reader.colType(c) == ColType.Integer) {
            val a = tr.span("reader.decode")(IntCodec.decode(blob))
            idSum += tr.span("vectors.read") {
              val v = new IntArrayVector(a); var s = 0L; var i = 0
              while (i < reader.numRows) { s += v.getInt(i); i += 1 }
              s
            }
          } else {
            val d = tr.span("reader.decode")(StringCodec.decodeSlices(new BufReader(blob)))
            strBytes += tr.span("vectors.read") {
              val v = new StringArenaVector(d); var s = 0L; var i = 0
              while (i < reader.numRows) { s += v.getUTF8String(i).numBytes; i += 1 }
              s
            }
          }
          c += 1
        }
      }
    } finally reader.close()
    res.ok(rows == input.length && idSum == input.iterator.map(_.row_id).sum &&
      strBytes == input.iterator.map(r => Columns.tail.map(c => field(r, c).getBytes(UTF_8).length.toLong).sum).sum)

    val self = tr.selfMs
    Seq("engine.chunk_encode", "engine.frame", "engine.write_frames", "format.zone_index_write",
      "format.zone_index_read", "reader.header_crc", "reader.blob", "reader.decode", "vectors.read")
      .foreach(n => res.layer(s"${n}_ms", self.getOrElse(n, 0.0), "ms"))
    res.layer("engine.frame_bytes", frames.iterator.map(_.bytes.length.toLong).sum.toDouble, "bytes")
    res.layer("reader.bytes_read", fileLen.toDouble, "bytes")
  }
}
