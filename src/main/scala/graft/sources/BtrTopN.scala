package graft.sources

import graft.codec.DecodedStrings
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** One sort key of a pushed ORDER BY … LIMIT n. `kind` mirrors the zone
  * kinds (1 int, 2 double, 3 string) so the reader's dynamic threshold and
  * the chunk zone maps speak the same dialect.
  */
case class SortKeySpec(colIdx: Int, kind: Int, desc: Boolean, nullsFirst: Boolean)

/** A pushed TopN (`SupportsPushDownTopN`, partial): each partition emits
  * only its local top `n` rows under `keys`; Spark's TakeOrderedAndProject
  * merges partitions, so emission order inside a partition is free.
  */
case class TopNSpec(keys: Seq[SortKeySpec], n: Int) extends Serializable

object BtrTopN {
  /** Per-partition kept-row cap — one full chunk's worth. A TopN beyond
    * this stops being a "few best rows" shape and is better served by the
    * plain scan + Spark's sort (pushTopN refuses, nothing breaks).
    */
  final val MaxN = 65536
}

/** Partition reader for a pushed TopN over one block file.
  *
  * Mechanics: a bounded worst-at-head priority queue of the best `n` rows
  * seen so far, fed by the ordinary chunk cursor. The scale lever is a
  * DYNAMIC zone threshold: once the queue is full, a chunk whose
  * primary-key zone bound (max for DESC, min for ASC — chunk extrema are
  * exact) cannot strictly beat the worst kept key is skipped WHOLE, blobs
  * unread. On a table range-clustered by the sort column — the layout the
  * writer produces — an ORDER BY key DESC LIMIT k query reads a handful of
  * chunks per file and skips the rest; at 100 TB that is the difference
  * between a top-k probe and a full decode. Chunks without a usable zone
  * (NaN, long string extrema) always decode — soundness never depends on
  * a zone existing.
  *
  * Ordering matches Spark's SQL semantics: explicit null ordering,
  * UTF8String binary comparison, doubles with NaN greatest and -0.0
  * compared EQUAL to 0.0 (Spark normalizes floating sort keys, so a
  * boundary -0.0/0.0 pair must tie here too or the secondary key would be
  * ignored). Claimed exact filters are enforced before a row competes.
  * Kept rows copy their values out of the chunk arenas (entries outlive
  * the chunk); rejected rows — the overwhelming majority — compare via
  * zero-copy views first.
  */
final class BtrTopNReader(
    file: String,
    conf: org.apache.hadoop.conf.Configuration,
    colTypes: Array[Int],
    requiredIdx: Array[Int],
    zones: Array[ExactPred],
    exact: Array[ExactPred],
    spec: TopNSpec)
  extends PartitionReader[InternalRow] {

  private val keys = spec.keys.toArray
  private val keyCols = keys.map(_.colIdx)
  // output ∪ key columns (a sort column may be pruned from the output
  // projection by the final Project above the sort) ∪ claimed-filter columns
  private val cursor = new ChunkCursor(file, conf, colTypes, requiredIdx ++ keyCols, zones, exact)
  private val readCols = (requiredIdx ++ keyCols ++ exact.flatMap(_.cols)).distinct.sorted

  private final class Entry(val ks: Array[AnyRef], val out: Array[AnyRef])

  /** Spark sorts all NaNs as one greatest double and -0.0 equal to 0.0. */
  private def normD(v: Double): Double =
    if (v == 0.0d) 0.0d else if (java.lang.Double.isNaN(v)) Double.NaN else v

  /** Query-order comparison of one key: negative = `a` sorts before `b`. */
  private def cmpKey(k: SortKeySpec, a: AnyRef, b: AnyRef): Int = {
    if (a == null || b == null) {
      if (a == null && b == null) 0
      else if (a == null) { if (k.nullsFirst) -1 else 1 }
      else { if (k.nullsFirst) 1 else -1 }
    } else {
      val c = k.kind match {
        case 1 => Integer.compare(a.asInstanceOf[java.lang.Integer].intValue,
          b.asInstanceOf[java.lang.Integer].intValue)
        case 2 => java.lang.Double.compare(a.asInstanceOf[java.lang.Double].doubleValue,
          b.asInstanceOf[java.lang.Double].doubleValue)
        case _ => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      }
      if (k.desc) -c else c
    }
  }

  private def cmpKeys(a: Array[AnyRef], b: Array[AnyRef]): Int = {
    var i = 0
    while (i < keys.length) {
      val c = cmpKey(keys(i), a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  // worst kept row at the head (reverse of query order) for O(1) threshold
  private val heap = new java.util.PriorityQueue[Entry](spec.n,
    (x: Entry, y: Entry) => cmpKeys(y.ks, x.ks))

  private val primary = keys(0)

  // Dynamic chunk threshold. Sound to skip only when the queue is full AND
  // every row the chunk COULD hold loses STRICTLY on the primary key — a
  // primary tie must be read, because secondary keys decide it (including
  // null-vs-null ties when the kept worst is itself null). Two
  // possibilities per chunk: its null rows (present when nullCount > 0,
  // or unknown < 0) and its best non-null value (zone min for ASC, max
  // for DESC — chunk extrema are exact).
  private def cannotBeat: Boolean =
    heap.size == spec.n && {
      val z = cursor.zone(primary.colIdx)
      z.kind == primary.kind && {
        val worst = heap.peek().ks(0)
        val nullCanTieOrBeat = z.nullCount != 0L && cmpKey(primary, null, worst) <= 0
        !nullCanTieOrBeat && {
          val best: AnyRef = primary.kind match {
            case 1 => Int.box((if (primary.desc) z.lmax else z.lmin).toInt)
            case 2 => Double.box(normD(java.lang.Double.longBitsToDouble(
              if (primary.desc) z.lmax else z.lmin)))
            case _ => UTF8String.fromBytes(if (primary.desc) z.smax else z.smin)
          }
          cmpKey(primary, best, worst) > 0
        }
      }
    }

  /** Key view of row `i`, zero-copy (strings alias the chunk arena) — for
    * comparing. Copied by `materialize` only if the row is kept.
    */
  private def keyView(i: Int): Array[AnyRef] = {
    val ks = new Array[AnyRef](keys.length)
    var j = 0
    while (j < keys.length) {
      val c = keyCols(j)
      if (ExactPred.isNull(cursor.nulls(c), i)) ks(j) = null
      else ks(j) = cursor.data(c) match {
        case a: Array[Int]     => Int.box(a(i))
        case a: Array[Double]  => Double.box(normD(a(i)))
        case d: DecodedStrings => UTF8String.fromBytes(d.data, d.starts(i), d.lens(i))
      }
      j += 1
    }
    ks
  }

  private def copyVal(c: Int, i: Int): AnyRef =
    if (ExactPred.isNull(cursor.nulls(c), i)) null
    else cursor.data(c) match {
      case a: Array[Int]    => Int.box(a(i))
      case a: Array[Double] => Double.box(a(i)) // OUTPUT keeps the raw value (-0.0 intact)
      case d: DecodedStrings =>
        UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(d.data, d.starts(i), d.starts(i) + d.lens(i)))
    }

  private def materialize(i: Int, view: Array[AnyRef]): Entry = {
    val ks = new Array[AnyRef](keys.length)
    var j = 0
    while (j < keys.length) {
      ks(j) = view(j) match {
        case s: UTF8String => s.copy() // off the chunk arena
        case v             => v
      }
      j += 1
    }
    val out = new Array[AnyRef](requiredIdx.length)
    var o = 0
    while (o < requiredIdx.length) { out(o) = copyVal(requiredIdx(o), i); o += 1 }
    new Entry(ks, out)
  }

  private def consume(): java.util.Iterator[Entry] = {
    while (cursor.nextChunk()) {
      if (cannotBeat) cursor.skip()
      else {
        cursor.load(readCols)
        val rows = cursor.chunkRows
        var i = 0
        while (i < rows) {
          if (cursor.chunkAllMatch || cursor.rowMatches(i)) {
            val view = keyView(i)
            if (heap.size < spec.n) heap.add(materialize(i, view))
            else if (cmpKeys(view, heap.peek().ks) < 0) {
              heap.poll()
              heap.add(materialize(i, view))
            }
          }
          i += 1
        }
      }
    }
    heap.iterator()
  }

  private var it: java.util.Iterator[Entry] = _
  private val row = new GenericInternalRow(requiredIdx.length)

  override def next(): Boolean = {
    if (it == null) it = consume()
    if (!it.hasNext) return false
    val e = it.next()
    var o = 0
    while (o < e.out.length) { row.update(o, e.out(o)); o += 1 }
    true
  }

  override def get(): InternalRow = row

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    cursor.metrics

  override def close(): Unit = cursor.close()
}
