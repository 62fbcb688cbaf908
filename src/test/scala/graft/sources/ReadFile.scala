package graft.sources

import graft.engine.BtrTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

/** Reader-level test view of one block file: reads it to the end through
  * `BtrColumnarReader`, the reader every DSv2 scan uses, and returns its
  * rows (copied out of the chunk vectors) and task metrics.
  */
object ReadFile {
  final case class Result(rows: Seq[InternalRow], metrics: Map[String, Long]) {
    def chunksSkipped: Long = metrics("chunksSkipped")
  }

  /** Column types from the manifest of the table whose `blocks/` (or any
    * sibling directory of it) holds `file`.
    */
  def colTypes(file: String): Array[Int] = {
    val table = new Path(file).getParent.getParent.toString
    BtrTable.readManifest(SparkSession.active, table).columns.map(_.colType).toArray
  }

  def apply(
      file: String,
      conf: org.apache.hadoop.conf.Configuration,
      requiredIdx: Array[Int],
      zones: Array[ExactPred] = Array.empty,
      limit: Int = -1,
      exact: Array[ExactPred] = Array.empty): Result = {
    val r = new BtrColumnarReader(file, conf, colTypes(file), requiredIdx, zones, limit, exact)
    val rows = Seq.newBuilder[InternalRow]
    try {
      while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) rows += it.next().copy()
      }
      Result(rows.result(), r.currentMetricsValues().map(m => m.name() -> m.value()).toMap)
    } finally r.close()
  }
}
