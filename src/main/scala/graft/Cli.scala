package graft

import graft.codec.{BtrConfig, ColType}
import graft.engine.{BtrCsv, BtrTable}
import org.apache.spark.sql.SparkSession

/** spark-submit CLI — the reference's `btr` binary surface
  * (/root/reference/src/bin/btr.rs:31-130: from-csv, to-csv, print-csv,
  * query) plus encode/decode/verify/stats over parquet inputs.
  *
  *   spark-submit --class graft.Cli app.jar encode <in.parquet> <out.btr> [rangeCols,...]
  *   spark-submit --class graft.Cli app.jar decode <in.btr> <out.parquet> [col,...]
  *   spark-submit --class graft.Cli app.jar from-csv <in.csv> <out.btr> <name:type,...>
  *   spark-submit --class graft.Cli app.jar to-csv <in.btr> <out.csv>
  *   spark-submit --class graft.Cli app.jar print-csv <in.btr> [limit]
  *   spark-submit --class graft.Cli app.jar query <in.btr> <sql with table `btr`>
  *   spark-submit --class graft.Cli app.jar stats <in.btr>
  *   spark-submit --class graft.Cli app.jar describe <in.btr>
  *   spark-submit --class graft.Cli app.jar verify <in.parquet> <in.btr> <joinKey>
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val builder = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects the master; fall back to local[*] when run bare
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    graft.expr.BtrFunctions.register(spark)
    try run(spark, args)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "encode" =>
      // range keys shuffle COMPRESSED frames (the 100 TB ingest shape)
      val rangeCols = if (args.length > 3) args(3).split(",").toSeq else Nil
      val m = graft.engine.BlockFiles.write(spark.read.parquet(args(1)), args(2),
        BtrConfig.default, rangeCols = rangeCols, compressedExchange = rangeCols.nonEmpty)
      println(s"encoded rows=${m.numRows} raw=${m.rawBytes} enc=${m.encBytes} ratio=${m.ratio}")
    case "decode" =>
      val cols = if (args.length > 3) args(3).split(",").toSeq else Nil
      BtrTable.load(spark, args(1), cols).write.mode("overwrite").parquet(args(2))
    case "from-csv" =>
      val schema = args(3).split(",").toSeq.map { s =>
        val Array(n, t) = s.split(":")
        n -> (t match {
          case "int"    => ColType.Integer.toInt
          case "double" => ColType.Double.toInt
          case "string" => ColType.String.toInt
          case other    => sys.error(s"unknown type '$other' (int|double|string)")
        })
      }
      val m = BtrCsv.fromCsv(spark, args(1), args(2), schema)
      println(s"encoded rows=${m.numRows} ratio=${m.ratio}")
    case "to-csv" =>
      BtrCsv.toCsv(spark, args(1), args(2))
    case "print-csv" =>
      BtrCsv.printCsv(spark, args(1), if (args.length > 2) args(2).toInt else 300000)
    case "query" =>
      BtrTable.load(spark, args(1)).createOrReplaceTempView("btr")
      spark.sql(args(2)).show(100, truncate = false)
    case "stats" =>
      BtrTable.stats(spark, args(1)).show(1000, truncate = false)
    case "describe" =>
      // ops view: manifest summary + the file-level zone index (what the
      // planner prunes with), per file per column
      val m = BtrTable.readManifest(spark, args(1))
      println(s"columns=${m.columns.map(c =>
        s"${c.name}:${ColType.name(c.colType)}${if (c.nullable) "?" else ""}").mkString(",")}")
      println(s"rows=${m.numRows} partitions=${m.numPartitions} blockSize=${m.blockSize} " +
        s"raw=${m.rawBytes} enc=${m.encBytes} ratio=${f"${m.ratio}%.3f"}")
      graft.format.ZoneIndex.read(spark.sparkContext.hadoopConfiguration, args(1)) match {
        case Some(entries) =>
          println(s"file-level zone index: ${entries.length} files")
          entries.sortBy(_.file).foreach { e =>
            val zs = e.cols.zipWithIndex.map { case (z, c) =>
              val name = if (c < m.columns.length) m.columns(c).name else s"col$c"
              val nulls = if (z.nullCount > 0) s" nulls=${z.nullCount}" else ""
              z.kind match {
                case 1 => s"$name=[${z.lmin},${z.lmax}]$nulls"
                case 2 => s"$name=[${java.lang.Double.longBitsToDouble(z.lmin)}," +
                  s"${java.lang.Double.longBitsToDouble(z.lmax)}]$nulls"
                case 3 => s"$name=[${new String(z.smin, "UTF-8")},${new String(z.smax, "UTF-8")}]$nulls"
                case _ => s"$name=-$nulls"
              }
            }
            val rows = e.cols.headOption.map(_.rows).getOrElse(-1L)
            println(s"  ${e.file}${if (rows >= 0) s" rows=$rows" else ""}: ${zs.mkString(" ")}")
          }
        case None => println("file-level zone index: none (no zoned block file, or a corrupt or older-build index)")
      }
    case "verify" =>
      import org.apache.spark.sql.functions._
      val original = spark.read.parquet(args(1))
      val decoded = BtrTable.load(spark, args(2))
      val key = args(3)
      val joined = decoded.as("d").join(original.as("o"), key)
      val cols = original.columns.filterNot(_ == key)
      val mismatch = cols.map(c => (col(s"d.$c") =!= col(s"o.$c")).cast("int"))
        .reduce(_ + _)
      val bad = joined.filter(mismatch > 0).count()
      val n = joined.count()
      println(s"verified rows=$n mismatches=$bad")
      if (bad > 0) sys.exit(1)
    case other =>
      usage(); sys.error(s"unknown command '$other'")
  }

  private def usage(): Unit =
    println("usage: graft.Cli encode|decode|from-csv|to-csv|print-csv|query|stats|describe|verify ...")
}
