package graft.sources

import graft.format.ColZone
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pushed predicates — the one predicate type of the read core. The source
  * CLAIMS the V2 predicates `PredTranslator` translates in its claimed mode
  * (they are not returned from pushPredicates), so Spark plans NO post-scan
  * Filter. That unlocks aggregate pushdown under a WHERE clause (`SELECT
  * count(*) WHERE id BETWEEN …` — the most common operational query at
  * 100 TB — answered from frame headers for fully-covered chunks), at the
  * price that the readers must enforce these predicates with Spark's exact
  * row semantics.
  *
  * Three-way chunk classification drives the cost model, against the
  * unit's `ColZone`s (a chunk's frame header or a file's zone-index entry —
  * one shape for both pruning levels):
  *  - `rejects` proves NO row can satisfy the predicate from the zone +
  *    null statistics                → chunk (or file) skipped unread;
  *  - `allMatch` proves EVERY row satisfies it
  *                                   → rows emitted with NO per-row eval;
  *  - otherwise (mixed)              → per-row evaluation on the decoded
  *    columns (`matchesRow`).
  * A predicate that is not claimable may still prune (`PredTranslator`'s
  * prune-only mode, which runtime filters use too): it is then used for
  * `rejects` only.
  *
  * Spark semantics implemented exactly:
  *  - NULL never satisfies a comparison / IN; IS NULL / `<=> NULL` do;
  *  - doubles compare with NaN as the GREATEST value, NaN == NaN, and
  *    -0.0 == 0.0 (Spark normalizes -0.0 at UnsafeRow boundaries; values
  *    decoded from btr blobs keep their sign bit, so the evaluator must
  *    normalize);
  *  - strings compare in unsigned byte order (binary collation), rows,
  *    zones and comparands alike — a zone's extrema and a literal are raw
  *    bytes, valid UTF-8 or not;
  *  - int-column bounds from fractional comparands round with ceil/floor
  *    (x > 3.5 ⇔ x >= 4).
  * Range predicates reject on zones alone: zones cover non-null values
  * only, and a NULL row never satisfies a comparison, so a range reject
  * stays sound in the presence of nulls; null predicates decide on the
  * null statistics.
  */
sealed trait ExactPred extends Serializable {
  def colIdx: Int
  /** Every column this predicate reads (compounds may span several). */
  def cols: Seq[Int] = Seq(colIdx)
  /** Does row `i` satisfy this predicate? `cols(c)` is file column c's
    * decoded vector. Leaves read their own column with no closure in the
    * way; compounds compose across columns.
    */
  def matchesRow(cols: Array[ArrayVector], i: Int): Boolean
  /** Can the unit's zones (one `ColZone` per column: a chunk's frame
    * header or a file's zone-index entry) PROVE no row matches? Sound
    * (never rejects a unit holding a match); compounds compose across
    * columns.
    */
  def rejects(zs: IndexedSeq[ColZone]): Boolean
  /** Can the unit's zones PROVE every row matches? Conservative false. */
  def allMatch(zs: IndexedSeq[ColZone]): Boolean
}

/** A predicate over one column: decides a unit on that column's zone alone,
  * read through `ColZone.of` (a column beyond the unit's width has no zone
  * and unknown nulls, so it never rejects and never proves a match).
  */
sealed trait LeafPred extends ExactPred {
  /** Does a NULL row satisfy this predicate? */
  def matchesNull: Boolean
  /** Non-null row `i` of the column's vector (matchesRow dispatches nulls). */
  def matches(vec: ArrayVector, i: Int): Boolean
  final def matchesRow(cols: Array[ArrayVector], i: Int): Boolean = {
    val vec = cols(colIdx)
    if (vec.isNullAt(i)) matchesNull else matches(vec, i)
  }
  final def rejects(zs: IndexedSeq[ColZone]): Boolean = rejects(ColZone.of(zs, colIdx))
  final def allMatch(zs: IndexedSeq[ColZone]): Boolean = allMatch(ColZone.of(zs, colIdx))
  def rejects(z: ColZone): Boolean
  def allMatch(z: ColZone): Boolean
}

object ExactPred {
  /** Spark's double ordering: -0.0 == 0.0, NaN greatest, NaN == NaN. */
  @inline def cmpD(a: Double, b: Double): Int =
    java.lang.Double.compare(ArrayVector.normD(a), ArrayVector.normD(b))

  /** Does row `i` satisfy every predicate? THE row-match loop of the
    * readers (see `matchesRow` for the column layout).
    */
  def rowMatches(preds: Array[ExactPred], cols: Array[ArrayVector], i: Int): Boolean = {
    var p = 0
    while (p < preds.length) {
      if (!preds(p).matchesRow(cols, i)) return false
      p += 1
    }
    true
  }

  @inline def cmpB(a: Array[Byte], b: Array[Byte]): Int = java.util.Arrays.compareUnsigned(a, b)

  /** First index >= the key from a `java.util.Arrays.binarySearch` result. */
  @inline def insertionPoint(found: Int): Int = if (found >= 0) found else -found - 1

  /** Smallest byte string > every string with prefix `p`; null if none. */
  def successor(p: Array[Byte]): Array[Byte] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) null
    else {
      val s = java.util.Arrays.copyOf(p, i + 1)
      s(i) = (s(i) + 1).toByte
      s
    }
  }
}

object StrOp { val GT = 0; val GTE = 1; val LT = 2; val LTE = 3; val EQ = 4 }

/** value ∈ [lo, hi] over an INT column (bounds pre-rounded to ints). */
case class IntCmpPred(colIdx: Int, lo: Long, hi: Long) extends LeafPred {
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = {
    val x = vec.getInt(i).toLong
    x >= lo && x <= hi
  }
  def rejects(z: ColZone): Boolean =
    z.kind == 1 && (z.lmax < lo || z.lmin > hi)
  def allMatch(z: ColZone): Boolean =
    z.kind == 1 && z.nullCount == 0 && z.lmin >= lo && z.lmax <= hi
}

/** value ∈ [lo, hi] in Spark's double order over a DOUBLE column. An
  * unbounded top is encoded as hi = NaN (the order's maximum), so `x > v`
  * correctly matches NaN rows. A chunk containing NaN carries no zone
  * (kind 0), so it is never rejected or proven here.
  */
case class DoubleCmpPred(colIdx: Int, lo: Double, hi: Double) extends LeafPred {
  import ExactPred.cmpD
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = {
    val x = vec.getDouble(i)
    cmpD(x, lo) >= 0 && cmpD(x, hi) <= 0
  }
  def rejects(z: ColZone): Boolean =
    z.kind == 2 &&
      (cmpD(java.lang.Double.longBitsToDouble(z.lmax), lo) < 0 ||
        cmpD(java.lang.Double.longBitsToDouble(z.lmin), hi) > 0)
  def allMatch(z: ColZone): Boolean =
    z.kind == 2 && z.nullCount == 0 &&
      cmpD(java.lang.Double.longBitsToDouble(z.lmin), lo) >= 0 &&
      cmpD(java.lang.Double.longBitsToDouble(z.lmax), hi) <= 0
}

/** One string comparison (op ∈ StrOp) in unsigned byte order (Spark's
  * binary collation), so zone and row compares agree. The comparand is
  * the literal's own bytes, valid UTF-8 or not; `UTF8String` equality is
  * byte equality, so equal pushed predicates compare equal.
  */
case class StringCmpPred(colIdx: Int, op: Int, v: UTF8String) extends LeafPred {
  import ExactPred.cmpB
  @transient private lazy val vb: Array[Byte] = v.getBytes
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = {
    val c = java.util.Arrays.compareUnsigned(vec.arena, vec.start(i), vec.end(i), vb, 0, vb.length)
    op match {
      case StrOp.GT  => c > 0
      case StrOp.GTE => c >= 0
      case StrOp.LT  => c < 0
      case StrOp.LTE => c <= 0
      case StrOp.EQ  => c == 0
    }
  }
  def rejects(z: ColZone): Boolean = z.kind == 3 && (op match {
    case StrOp.GT  => cmpB(z.smax, vb) <= 0
    case StrOp.GTE => cmpB(z.smax, vb) < 0
    case StrOp.LT  => cmpB(z.smin, vb) >= 0
    case StrOp.LTE => cmpB(z.smin, vb) > 0
    case StrOp.EQ  => cmpB(vb, z.smin) < 0 || cmpB(vb, z.smax) > 0
  })
  def allMatch(z: ColZone): Boolean = z.kind == 3 && z.nullCount == 0 && (op match {
    case StrOp.GT  => cmpB(z.smin, vb) > 0
    case StrOp.GTE => cmpB(z.smin, vb) >= 0
    case StrOp.LT  => cmpB(z.smax, vb) < 0
    case StrOp.LTE => cmpB(z.smax, vb) <= 0
    case StrOp.EQ  => cmpB(z.smin, vb) == 0 && cmpB(z.smax, vb) == 0
  })
}

/** IN over an INT column: sorted feasible members, binary search per row;
  * a unit is rejected when no member lies in its [min, max] zone (exact at
  * any set size; an empty set rejects every zoned unit).
  */
case class IntInPred(colIdx: Int, vs: Seq[Long]) extends LeafPred {
  @transient private lazy val sorted: Array[Long] = vs.distinct.sorted.toArray
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean =
    java.util.Arrays.binarySearch(sorted, vec.getInt(i).toLong) >= 0
  def rejects(z: ColZone): Boolean = z.kind == 1 && {
    val p = ExactPred.insertionPoint(java.util.Arrays.binarySearch(sorted, z.lmin))
    p == sorted.length || sorted(p) > z.lmax
  }
  def allMatch(z: ColZone): Boolean =
    z.kind == 1 && z.nullCount == 0 && z.lmin == z.lmax &&
      java.util.Arrays.binarySearch(sorted, z.lmin) >= 0
}

/** IN over a DOUBLE column: members normalized (`ArrayVector.normD`) and
  * sorted in Spark's double order (java's total order, NaN greatest; a NaN
  * member matches NaN rows and never lies inside a zone).
  */
case class DoubleInPred(colIdx: Int, vs: Seq[Double]) extends LeafPred {
  import ArrayVector.normD
  import ExactPred.cmpD
  @transient private lazy val sorted: Array[Double] = {
    val a = vs.map(normD).toArray
    java.util.Arrays.sort(a)
    a
  }
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean =
    java.util.Arrays.binarySearch(sorted, normD(vec.getDouble(i))) >= 0
  def rejects(z: ColZone): Boolean = z.kind == 2 && {
    val p = ExactPred.insertionPoint(java.util.Arrays.binarySearch(sorted,
      normD(java.lang.Double.longBitsToDouble(z.lmin))))
    p == sorted.length || cmpD(sorted(p), java.lang.Double.longBitsToDouble(z.lmax)) > 0
  }
  def allMatch(z: ColZone): Boolean =
    z.kind == 2 && z.nullCount == 0 && {
      val mn = java.lang.Double.longBitsToDouble(z.lmin)
      cmpD(mn, java.lang.Double.longBitsToDouble(z.lmax)) == 0 &&
        java.util.Arrays.binarySearch(sorted, normD(mn)) >= 0
    }
}

/** IN over a STRING column: the members' bytes sorted in unsigned byte
  * order, binary search per row and per zone.
  */
case class StringInPred(colIdx: Int, vs: Seq[UTF8String]) extends LeafPred {
  @transient private lazy val sorted: Array[Array[Byte]] = {
    val a = vs.distinct.map(_.getBytes).toArray
    java.util.Arrays.sort(a, (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y))
    a
  }
  private def cmp(m: Int, data: Array[Byte], from: Int, to: Int): Int =
    java.util.Arrays.compareUnsigned(sorted(m), 0, sorted(m).length, data, from, to)
  /** Index of the first member >= data[from, to) (sorted.length if none). */
  private def lowerBound(data: Array[Byte], from: Int, to: Int): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(mid, data, from, to) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
  private def contains(data: Array[Byte], from: Int, to: Int): Boolean = {
    val p = lowerBound(data, from, to)
    p < sorted.length && cmp(p, data, from, to) == 0
  }
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = contains(vec.arena, vec.start(i), vec.end(i))
  def rejects(z: ColZone): Boolean = z.kind == 3 && {
    val mn = z.smin
    val mx = z.smax
    val p = lowerBound(mn, 0, mn.length)
    p == sorted.length || cmp(p, mx, 0, mx.length) > 0
  }
  def allMatch(z: ColZone): Boolean =
    z.kind == 3 && z.nullCount == 0 &&
      java.util.Arrays.compareUnsigned(z.smin, z.smax) == 0 &&
      contains(z.smin, 0, z.smin.length)
}

/** `col LIKE 'p%'` — byte-prefix match (Spark's StartsWith is a
  * UTF8String byte-prefix test). Rows with prefix p lie in [p, succ(p))
  * under unsigned byte order: a zone entirely outside that range rejects,
  * a zone whose min and max both lie inside it proves every row.
  */
case class StartsWithPred(colIdx: Int, prefix: UTF8String) extends LeafPred {
  import ExactPred.cmpB
  @transient private lazy val pb: Array[Byte] = prefix.getBytes
  @transient private lazy val succ: Array[Byte] = ExactPred.successor(pb)
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean =
    vec.end(i) - vec.start(i) >= pb.length && java.util.Arrays.equals(
      vec.arena, vec.start(i), vec.start(i) + pb.length, pb, 0, pb.length)
  def rejects(z: ColZone): Boolean =
    z.kind == 3 &&
      (cmpB(z.smax, pb) < 0 || (succ != null && cmpB(z.smin, succ) >= 0))
  def allMatch(z: ColZone): Boolean =
    z.kind == 3 && z.nullCount == 0 &&
      cmpB(z.smin, pb) >= 0 && (succ == null || cmpB(z.smax, succ) < 0)
}

/** `col LIKE '%s'` — byte-suffix match (no zone shape; row eval only). */
case class EndsWithPred(colIdx: Int, suffix: UTF8String) extends LeafPred {
  @transient private lazy val sb: Array[Byte] = suffix.getBytes
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = {
    val off = vec.end(i) - sb.length
    off >= vec.start(i) && java.util.Arrays.equals(vec.arena, off, vec.end(i), sb, 0, sb.length)
  }
  def rejects(z: ColZone): Boolean = false
  def allMatch(z: ColZone): Boolean = false
}

/** `col LIKE '%s%'` — byte substring match, same semantics as
  * UTF8String.contains (byte search; no zone shape).
  */
case class ContainsPred(colIdx: Int, needle: UTF8String) extends LeafPred {
  @transient private lazy val nb: Array[Byte] = needle.getBytes
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = {
    if (nb.length == 0) return true
    val data = vec.arena
    val end = vec.end(i) - nb.length
    var o = vec.start(i)
    while (o <= end) {
      if (java.util.Arrays.equals(data, o, o + nb.length, nb, 0, nb.length)) return true
      o += 1
    }
    false
  }
  def rejects(z: ColZone): Boolean = false
  def allMatch(z: ColZone): Boolean = false
}

/** Disjunction (`f1 OR f2`, round-5), possibly ACROSS columns. Under SQL
  * three-valued logic a row passes a filter iff the predicate evaluates
  * TRUE, and OR is TRUE iff at least one side is TRUE — so
  * pass-composition is plain `||` through matchesRow, each leaf consulting
  * its own column's null state. A unit is rejected only when BOTH sides
  * reject it (each against its own column's zone); either side proving
  * every row proves the OR.
  */
case class OrPred(l: ExactPred, r: ExactPred) extends ExactPred {
  def colIdx: Int = l.colIdx
  override def cols: Seq[Int] = (l.cols ++ r.cols).distinct
  def matchesRow(cols: Array[ArrayVector], i: Int): Boolean =
    l.matchesRow(cols, i) || r.matchesRow(cols, i)
  def rejects(zs: IndexedSeq[ColZone]): Boolean = l.rejects(zs) && r.rejects(zs)
  def allMatch(zs: IndexedSeq[ColZone]): Boolean = l.allMatch(zs) || r.allMatch(zs)
}

/** Conjunction (nested inside an OR — Spark splits top-level conjuncts
  * itself), possibly across columns. AND is TRUE iff both sides are TRUE:
  * `&&` through matchesRow; either side rejecting rejects the unit;
  * allMatch needs both sides proven.
  */
case class AndPred(l: ExactPred, r: ExactPred) extends ExactPred {
  def colIdx: Int = l.colIdx
  override def cols: Seq[Int] = (l.cols ++ r.cols).distinct
  def matchesRow(cols: Array[ArrayVector], i: Int): Boolean =
    l.matchesRow(cols, i) && r.matchesRow(cols, i)
  def rejects(zs: IndexedSeq[ColZone]): Boolean = l.rejects(zs) || r.rejects(zs)
  def allMatch(zs: IndexedSeq[ColZone]): Boolean = l.allMatch(zs) && r.allMatch(zs)
}

/** IS NULL (also `col <=> NULL`): rejects a unit KNOWN to hold no null. */
case class IsNullPred(colIdx: Int) extends LeafPred {
  def matchesNull = true
  def matches(vec: ArrayVector, i: Int): Boolean = false
  def rejects(z: ColZone): Boolean = z.nullCount == 0L
  def allMatch(z: ColZone): Boolean = z.nullCount > 0 && z.nullCount == z.rows
}

/** IS NOT NULL: rejects a unit KNOWN to be all-null. */
case class NotNullPred(colIdx: Int) extends LeafPred {
  def matchesNull = false
  def matches(vec: ArrayVector, i: Int): Boolean = true
  def rejects(z: ColZone): Boolean = z.nullCount > 0 && z.nullCount == z.rows
  def allMatch(z: ColZone): Boolean = z.nullCount == 0
}

/** THE predicate translator: Spark's V2 `Predicate` → `ExactPred`, for
  * static pushdown (`BtrScanBuilder.pushPredicates`) and runtime filtering
  * (`BtrScan.filter`) alike.
  *
  * With `claim = true` it returns only shapes the readers enforce exactly
  * (the source claims them, so Spark plans no post-scan Filter); anything
  * else is None. A partially translatable compound is never claimed:
  * claiming a filter Spark considers handled while enforcing only part of
  * it would drop the rest. With `claim = false` the result may only REJECT
  * units, so an unclaimable AND relaxes to whichever sides prune (a
  * rejected conjunct rejects the conjunction); an OR still needs both.
  *
  * Leaves: `column op literal` for `=`, `<=>`, `<>`, `<`, `<=`, `>`, `>=`
  * in either order (Spark does not flip a literal on the left; `op` is
  * swapped here), IN over literals, IS_NULL / IS_NOT_NULL, and
  * STARTS_WITH / ENDS_WITH / CONTAINS with a literal. A string literal is
  * taken as the `UTF8String` it arrives as: its bytes, valid UTF-8 or not,
  * are what rows and zones compare against. NOT goes through `negate`.
  */
object PredTranslator {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{And => VAnd, Not => VNot, Or => VOr, Predicate}

  def apply(schema: StructType, p: Predicate, claim: Boolean): Option[ExactPred] = p match {
    case a: VAnd =>
      (apply(schema, a.left, claim), apply(schema, a.right, claim)) match {
        case (Some(l), Some(r)) => Some(AndPred(l, r))
        case (l, r) => if (claim) None else l.orElse(r)
      }
    case o: VOr =>
      for (l <- apply(schema, o.left, claim); r <- apply(schema, o.right, claim))
        yield OrPred(l, r)
    case n: VNot => negate(n.child).flatMap(apply(schema, _, claim))
    case _ => leaf(schema, p.name, p.children.toSeq)
  }

  /** `NOT p` as an equivalent positive predicate, ONLY where the rewrite
    * reproduces Spark's three-valued semantics exactly. A comparison on a
    * NULL input yields NULL, and NOT NULL is still NULL, so the
    * complementary comparison (which also fails NULL rows) is exact. Shapes
    * whose negation is subtler are deliberately absent and stay Spark
    * post-scan filters:
    *  - `NOT (a <=> v)` with v non-null PASSES null rows (<=> is two-valued);
    *  - `NOT IN (...)` with a null member passes no rows at all;
    *  - NOT over LIKE shapes / nested AND-OR would need three-valued
    *    evaluation through the compound.
    */
  private def negate(p: Predicate): Option[Predicate] = p match {
    case n: VNot => Some(n.child)
    case _ if p.name == "<=>" && p.children.exists(isNullLit) =>
      Some(new Predicate("IS_NOT_NULL", p.children.filterNot(isNullLit)))
    case _ => Negated.get(p.name).map(new Predicate(_, p.children))
  }

  private val Negated = Map(">" -> "<=", ">=" -> "<", "<" -> ">=", "<=" -> ">",
    "=" -> "<>", "<>" -> "=", "IS_NULL" -> "IS_NOT_NULL", "IS_NOT_NULL" -> "IS_NULL")

  /** The operator seen from the column's side: `v op col` ⇔ `col Swapped(op) v`. */
  private val Swapped = Map("=" -> "=", "<=>" -> "<=>", "<>" -> "<>",
    "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private def isNullLit(e: VExpr): Boolean = e match {
    case l: VLit[_] => l.value == null
    case _ => false
  }

  private def leaf(schema: StructType, name: String, ch: Seq[VExpr]): Option[ExactPred] = {
    def column(e: VExpr): Option[Int] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(schema.fieldNames.indexOf(r.fieldNames()(0))).filter(_ >= 0)
      case _ => None
    }
    def dt(c: Int): DataType = schema.fields(c).dataType
    (name, ch) match {
      case ("IS_NULL", Seq(c)) => column(c).map(IsNullPred)
      case ("IS_NOT_NULL", Seq(c)) => column(c).map(NotNullPred)
      case ("IN", c +: vs) if vs.forall(_.isInstanceOf[VLit[_]]) =>
        column(c).flatMap(i => in(dt(i), i, vs.map(_.asInstanceOf[VLit[_]].value)))
      case (op, Seq(a, l: VLit[_])) if Swapped.contains(op) =>
        column(a).flatMap(i => cmp(dt(i), i, op, l.value))
      case (op, Seq(l: VLit[_], b)) if Swapped.contains(op) =>
        column(b).flatMap(i => cmp(dt(i), i, Swapped(op), l.value))
      case ("STARTS_WITH" | "ENDS_WITH" | "CONTAINS", Seq(c, l: VLit[_])) =>
        for (i <- column(c) if dt(i) == StringType; s <- utf8(l.value)) yield name match {
          case "STARTS_WITH" => StartsWithPred(i, s)
          case "ENDS_WITH" => EndsWithPred(i, s)
          case _ => ContainsPred(i, s)
        }
      case _ => None
    }
  }

  /** A string comparand's bytes: catalyst literals carry `UTF8String`; a
    * literal built from a java String (`Expressions.literal`) is encoded.
    */
  private def utf8(v: Any): Option[UTF8String] = v match {
    case s: UTF8String => Some(s)
    case s: String => Some(UTF8String.fromString(s))
    case _ => None
  }

  private def isIntegral(v: Number): Boolean = v match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long => true
    case _ => false
  }
  // int bounds from fractional comparands need ceil/floor, not longValue
  // truncation: x > 3.5 over ints means x >= 4, x > -3.5 means x >= -3
  private def lowAbove(v: Number): Long =
    if (isIntegral(v)) v.longValue + 1
    else math.ceil(v.doubleValue).toLong +
      (if (v.doubleValue == math.floor(v.doubleValue)) 1L else 0L)
  private def lowAtLeast(v: Number): Long =
    if (isIntegral(v)) v.longValue else math.ceil(v.doubleValue).toLong
  private def highBelow(v: Number): Long =
    if (isIntegral(v)) v.longValue - 1
    else math.floor(v.doubleValue).toLong -
      (if (v.doubleValue == math.ceil(v.doubleValue)) 1L else 0L)
  private def highAtMost(v: Number): Long =
    if (isIntegral(v)) v.longValue else math.floor(v.doubleValue).toLong

  private val StrOps = Map(">" -> StrOp.GT, ">=" -> StrOp.GTE, "<" -> StrOp.LT,
    "<=" -> StrOp.LTE, "=" -> StrOp.EQ, "<=>" -> StrOp.EQ)

  /** `col op v` over column c of type dt. A long literal beyond the
    * exact-double range would lose precision in the double path; int
    * columns avoid it by comparing as long, doubles only ever see the
    * literal's own double value.
    */
  private def cmp(dt: DataType, c: Int, op: String, v: Any): Option[ExactPred] = (dt, v) match {
    case (_, null) => if (op == "<=>") Some(IsNullPred(c)) else None
    // x <> v over non-null x is exactly (x < v OR x > v) in Spark's total
    // orders (doubles: NaN greatest, NaN == NaN; strings: unsigned byte
    // order), and NULL rows fail both forms
    case _ if op == "<>" =>
      for (l <- cmp(dt, c, "<", v); g <- cmp(dt, c, ">", v)) yield OrPred(l, g)
    case (IntegerType, n: Number) => Some(op match {
      case ">" => IntCmpPred(c, lowAbove(n), Long.MaxValue)
      case ">=" => IntCmpPred(c, lowAtLeast(n), Long.MaxValue)
      case "<" => IntCmpPred(c, Long.MinValue, highBelow(n))
      case "<=" => IntCmpPred(c, Long.MinValue, highAtMost(n))
      case _ => IntCmpPred(c, lowAtLeast(n), highAtMost(n)) // = and <=>
    })
    // NaN literal: only equality (NaN == NaN in Spark)
    case (DoubleType, n: Number) if !n.doubleValue.isNaN || op == "=" || op == "<=>" =>
      val x = n.doubleValue
      Some(op match {
        // nextUp(+Inf) = +Inf would wrongly include +Inf itself; in Spark's
        // order only NaN is > +Inf
        case ">" => DoubleCmpPred(c, if (x == Double.PositiveInfinity) Double.NaN else Math.nextUp(x), Double.NaN)
        case ">=" => DoubleCmpPred(c, x, Double.NaN)
        // nothing is < -Inf: an empty range (lo NaN = the order's max)
        case "<" =>
          if (x == Double.NegativeInfinity) DoubleCmpPred(c, Double.NaN, Double.NegativeInfinity)
          else DoubleCmpPred(c, Double.NegativeInfinity, Math.nextDown(x))
        case "<=" => DoubleCmpPred(c, Double.NegativeInfinity, x)
        case _ => DoubleCmpPred(c, x, x)
      })
    case (StringType, _) => utf8(v).map(StringCmpPred(c, StrOps(op), _))
    case _ => None
  }

  /** `col IN (vs)`. A null member never makes a row TRUE (its "unknown" is
    * false under a filter), so only non-null members count; over ints, a
    * fractional member can never equal a row either.
    */
  private def in(dt: DataType, c: Int, vs: Seq[Any]): Option[ExactPred] = {
    val members = vs.filter(_ != null)
    dt match {
      case IntegerType | DoubleType if !members.forall(_.isInstanceOf[Number]) => None
      case IntegerType =>
        Some(IntInPred(c, members.collect {
          case v: Number if lowAtLeast(v) == highAtMost(v) => lowAtLeast(v)
        }))
      case DoubleType => Some(DoubleInPred(c, members.map(_.asInstanceOf[Number].doubleValue)))
      case StringType =>
        val ss = members.flatMap(utf8)
        if (ss.length == members.length) Some(StringInPred(c, ss)) else None
      case _ => None
    }
  }
}
