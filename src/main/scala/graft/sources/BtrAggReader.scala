package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Aggregate pushdown reader (partial), grouped or not: one block file's
  * chunks fold into per-group COUNT/COUNT(col)/MIN/MAX/SUM partials;
  * Spark's final HashAggregate merges partials across files (the scan
  * declares `supportCompletePushDown = false`). An ungrouped aggregate
  * (`groupIdx` empty) is a GROUP BY over zero columns — one group, seeded
  * at construction, so a file yields exactly one partial row even when
  * every chunk is zone-rejected (count 0, MIN/MAX/SUM NULL).
  *
  * Per chunk, three-way over the one `ChunkCursor`: zone-rejected →
  * skipped unread by the cursor; the zones PROVE every row matches the
  * claimed filters and the group columns are CONSTANT (zone min == max, or
  * all-NULL; always so without group columns) → folded from headers
  * alone, loading only the zone-less agg columns (NaN, long-string and
  * all-null cases); otherwise the filter + group + agg columns load and
  * rows fold one by one. Every decode is the cursor's `load` (length-checked
  * against the frame), rows match through `ExactPred.rowMatches` as in the
  * scan readers, and a chunk lacking an aggregated, grouped or filtered
  * column is the cursor's named error. COUNT(col) never decodes its column
  * — the validity bitmap is header-resident (`loadValidity`).
  *
  * MIN/MAX fold the columns' boxed values in Spark's SQL order
  * (`ArrayVector.compare`: ints as ints, doubles via Double.compare — NaN
  * greatest, -0.0 < 0.0 — and strings via unsigned UTF-8 bytes); a fold
  * slot is null until a value arrives, which surfaces as SQL NULL.
  *
  * The scale shape is `SELECT day, count(*) … GROUP BY day` on a
  * day-clustered 100 TB table: only chunks spanning a group boundary (or
  * partially matching a filter) decode.
  *
  * MEMORY IS BOUNDED: partials accumulate in a combine map that flushes to
  * the output queue when it exceeds [[BtrAggReader.FlushGroups]]
  * entries — high-cardinality grouping degrades to per-chunk partial rows
  * (what Spark's own map-side partial aggregation does under the same
  * pressure), never to an unbounded hash table.
  *
  * Group keys follow Spark's grouping semantics: NULL is a group; double
  * keys normalize -0.0 to 0.0 and all NaNs to one NaN (Spark normalizes
  * floating grouping keys the same way before hashing).
  */
object BtrAggReader {
  final val FlushGroups = 1 << 16
}

class BtrAggReader(
    file: String,
    conf: org.apache.hadoop.conf.Configuration,
    colTypes: Array[Int],
    specs: Seq[AggSpec],
    zones: Array[ExactPred] = Array.empty,
    exact: Array[ExactPred] = Array.empty,
    groupIdx: Array[Int] = Array.empty)
  extends PartitionReader[InternalRow] {

  private val aggs = specs.toArray
  private val cursor =
    new ChunkCursor(file, conf, colTypes, aggs.map(specCol).filter(_ >= 0) ++ groupIdx, zones, exact)
  private var chunksHeaderOnly = 0L
  private var chunksDecoded = 0L

  /** Key = group values in query order (`ArrayVector.key`: Integer /
    * normalized Double / UTF8String / null); array-content equality.
    */
  private final class GKey(val vs: Array[AnyRef]) {
    override val hashCode: Int = java.util.Arrays.hashCode(vs)
    override def equals(o: Any): Boolean = o match {
      case k: GKey => java.util.Arrays.equals(vs, k.vs)
      case _       => false
    }
  }

  private final class GState {
    var count = 0L
    val cnt = new Array[Long](aggs.length)
    val sumL = new Array[Long](aggs.length)
    val sumD = new Array[Double](aggs.length)
    val sumSeen = new Array[Boolean](aggs.length)
    val acc = new Array[AnyRef](aggs.length)
  }

  private val groups = new java.util.LinkedHashMap[GKey, GState]()
  private val pending = new java.util.ArrayDeque[InternalRow]()
  private var eof = false
  private var cur: InternalRow = _

  /** The state of group `vs`; a new group's key is detached from the
    * chunk arena, so the map never pins a chunk.
    */
  private def state(vs: Array[AnyRef]): GState = {
    var st = groups.get(new GKey(vs))
    if (st == null) { st = new GState; groups.put(new GKey(vs.map(ArrayVector.detach)), st) }
    st
  }

  /** The one group of an ungrouped aggregate (null when grouped): seeded
    * now, so it is emitted even if no chunk folds into it; one group never
    * reaches the flush threshold before the end of the file.
    */
  private val single: GState = if (groupIdx.isEmpty) state(Array.empty) else null

  private def flush(): Unit = {
    val it = groups.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val row = new GenericInternalRow(groupIdx.length + aggs.length)
      var g = 0
      while (g < groupIdx.length) { row.update(g, e.getKey.vs(g)); g += 1 }
      val st = e.getValue
      var s = 0
      while (s < aggs.length) {
        val v: AnyRef = aggs(s) match {
          case CountSpec           => Long.box(st.count)
          case _: CountColSpec     => Long.box(st.cnt(s))
          case SumSpec(_, isDouble) =>
            if (!st.sumSeen(s)) null
            else if (isDouble) Double.box(st.sumD(s))
            else Long.box(st.sumL(s))
          case _: MinMaxSpec => st.acc(s)
        }
        row.update(groupIdx.length + s, v)
        s += 1
      }
      pending.add(row)
    }
    groups.clear()
  }

  /** The chunk's group key when every group column is provably CONSTANT
    * across it (all-NULL, or null-free with zone min == max); None means
    * the chunk must decode. A double zone with min == max (primitive
    * compare) is one NORMALIZED group even when it spans -0.0/0.0.
    */
  private def constGroupKey(): Option[Array[AnyRef]] = {
    val vs = new Array[AnyRef](groupIdx.length)
    var g = 0
    while (g < groupIdx.length) {
      val z = cursor.zone(groupIdx(g))
      if (z.nullCount == cursor.chunkRows) vs(g) = null
      else if (z.nullCount == 0) {
        z.kind match {
          case 1 =>
            if (z.lmin != z.lmax) return None
            vs(g) = Int.box(z.lmin.toInt)
          case 2 =>
            val mn = java.lang.Double.longBitsToDouble(z.lmin)
            val mx = java.lang.Double.longBitsToDouble(z.lmax)
            if (!(mn == mx)) return None // NaN never has a zone; -0.0==0.0 is one group
            vs(g) = Double.box(ArrayVector.normD(mn))
          case 3 =>
            if (!java.util.Arrays.equals(z.smin, z.smax)) return None
            vs(g) = UTF8String.fromBytes(z.smin)
          case _ => return None
        }
      } else return None // mixed null/value (or unknown): two groups in one chunk
      g += 1
    }
    Some(vs)
  }

  /** Header-only fold of a fully-matching, constant-group chunk into one
    * GState; only zone-less agg columns decode.
    */
  private def foldHeaders(st: GState): Unit = {
    val rows = cursor.chunkRows
    st.count += rows
    var s = 0
    while (s < aggs.length) {
      aggs(s) match {
        case MinMaxSpec(c, isMin) =>
          val z = cursor.zone(c)
          // int columns: zone longs always fit the column's Int values
          z.kind match {
            case 1 => fold(st, s, Int.box((if (isMin) z.lmin else z.lmax).toInt), isMin)
            case 2 => fold(st, s,
              Double.box(java.lang.Double.longBitsToDouble(if (isMin) z.lmin else z.lmax)), isMin)
            case 3 => fold(st, s, UTF8String.fromBytes(if (isMin) z.smin else z.smax), isMin)
            case _ => () // no zone: loaded below
          }
        case CountColSpec(c) =>
          st.cnt(s) += rows - cursor.zone(c).nullCount
        case SumSpec(c, isDouble) if cursor.zone(c).kind != 0 =>
          // a numeric zone always carries the chunk's exact non-null sum
          val sum = cursor.zone(c).sum
          if (isDouble) st.sumD(s) += java.lang.Double.longBitsToDouble(sum)
          else st.sumL(s) += sum
          st.sumSeen(s) = true
        case _ => ()
      }
      s += 1
    }
    // zone-less MIN/MAX/SUM columns load and fold value by value; all-NULL
    // columns contribute nothing
    val need = aggs.indices.filter(s => aggs(s) match {
      case _: MinMaxSpec | _: SumSpec =>
        val z = cursor.zone(specCol(aggs(s)))
        z.kind == 0 && z.nullCount < rows
      case _ => false
    })
    if (need.isEmpty) chunksHeaderOnly += 1
    else {
      chunksDecoded += 1
      cursor.load(need.map(s => specCol(aggs(s))).distinct.sorted.toArray)
      need.foreach { s =>
        val v = cursor.data(specCol(aggs(s)))
        var i = 0
        while (i < rows) {
          if (!v.isNullAt(i)) foldValue(st, s, v, i)
          i += 1
        }
      }
    }
  }

  /** Fold boxed value `v` into MIN/MAX slot `s`. */
  private def fold(st: GState, s: Int, v: AnyRef, isMin: Boolean): Unit = {
    val cur = st.acc(s)
    val c = if (cur == null) 0 else ArrayVector.compare(v, cur)
    if (cur == null || (if (isMin) c < 0 else c > 0)) st.acc(s) = v
  }

  /** Fold non-null row `i` of column vector `v` into MIN/MAX or SUM slot `s`. */
  private def foldValue(st: GState, s: Int, v: ArrayVector, i: Int): Unit = aggs(s) match {
    case MinMaxSpec(_, isMin) => fold(st, s, v.boxed(i), isMin)
    case SumSpec(_, isDouble) =>
      if (isDouble) st.sumD(s) += v.getDouble(i) else st.sumL(s) += v.getInt(i)
      st.sumSeen(s) = true
    case _ => ()
  }

  private def specCol(sp: AggSpec): Int = sp match {
    case MinMaxSpec(c, _) => c
    case SumSpec(c, _)    => c
    case CountColSpec(c)  => c
    case CountSpec        => -1
  }

  /** Row-level path: load filter (when not all-match) + group + agg
    * columns and the COUNT(col) columns' validity, route each passing row
    * to its group's state (the one state of an ungrouped aggregate, with no
    * per-row key).
    */
  private def decodeRows(evalFilter: Boolean): Unit = {
    chunksDecoded += 1
    val aggCols = aggs.collect {
      case MinMaxSpec(c, _) => c
      case SumSpec(c, _)    => c
    }
    val filterCols = if (evalFilter) exact.flatMap(_.cols) else Array.empty[Int]
    cursor.load((filterCols ++ groupIdx ++ aggCols).distinct.sorted)
    cursor.loadValidity(aggs.collect { case CountColSpec(c) => c })
    val data = cursor.data
    var i = 0
    while (i < cursor.chunkRows) {
      if (!evalFilter || cursor.rowMatches(i)) {
        val st = if (single != null) single else {
          val vs = new Array[AnyRef](groupIdx.length)
          var g = 0
          while (g < groupIdx.length) { vs(g) = data(groupIdx(g)).key(i); g += 1 }
          state(vs)
        }
        st.count += 1
        var s = 0
        while (s < aggs.length) {
          val c = specCol(aggs(s))
          if (c >= 0 && !data(c).isNullAt(i)) aggs(s) match {
            case _: CountColSpec => st.cnt(s) += 1
            case _               => foldValue(st, s, data(c), i)
          }
          s += 1
        }
      }
      i += 1
    }
  }

  /** Fold one surviving chunk into the combine map; false at end of file. */
  private def processChunk(): Boolean = {
    if (!cursor.nextChunk()) return false
    if (cursor.chunkAllMatch) {
      if (single != null) foldHeaders(single)
      else constGroupKey() match {
        case Some(vs) => foldHeaders(state(vs))
        case None     => decodeRows(evalFilter = false)
      }
    } else decodeRows(evalFilter = true)
    true
  }

  override def next(): Boolean = {
    while (pending.isEmpty && !eof) {
      if (!processChunk()) { flush(); eof = true }
      else if (groups.size >= BtrAggReader.FlushGroups) flush()
    }
    cur = pending.poll()
    cur != null
  }

  override def get(): InternalRow = cur

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    cursor.metrics ++ Array(BtrTaskMetric("aggChunksHeaderOnly", chunksHeaderOnly),
      BtrTaskMetric("aggChunksDecoded", chunksDecoded))

  override def close(): Unit = cursor.close()
}
