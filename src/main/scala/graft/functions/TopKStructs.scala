package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** Bounded exact top-k aggregate: `topk_structs(s, k)` keeps the k
  * SMALLEST values of `s` (any orderable type, typically a struct) in
  * Spark's natural ascending order and returns them as a sorted array.
  *
  * This is the scale-out replacement for the
  * `row_number().over(Window.partitionBy(g).orderBy(...)) <= k` idiom on
  * HIGH-cardinality groups: the window shuffles and sorts EVERY input
  * row (all of a group's rows meet at one task before k survive), while
  * this aggregate participates in hash aggregation with map-side partial
  * combine — each map task forwards at most k rows per group it saw, so
  * shuffle volume is bounded by k·groups·tasks instead of the input
  * size, and no per-group sort ever materializes more than k rows.
  * (For LOW-cardinality groups, where the driver can coordinate a
  * per-group band search, see [[graft.queries.GroupedTopK]] — the two
  * cover opposite ends of the group-cardinality spectrum.)
  *
  * Direction encoding: callers express mixed sort directions the same
  * way the codebase's `max(struct(...))` argmax does — negate numeric
  * fields that rank descending (e.g. rank by (score DESC, tok ASC) ⇒
  * `struct(-score, tok, ...payload)`). Fields after the tiebreak are
  * payload: with a unique tiebreak ahead of them they can never affect
  * the order. The result array is ascending, so `posexplode` yields
  * `pos + 1` as the 1-based rank — bit-identical to the window's
  * row_number on the same total order.
  *
  * NaN caveat for the negation trick: NaN compares GREATEST in Spark's
  * ordering and `-NaN` is still NaN, so a NaN score ranks LAST here
  * while a `.desc` window ranks it FIRST (spec-pinned). Callers ranking
  * a possibly-NaN double descending should use [[DescKey]]
  * (`desc_key(score)`) as the leading struct field — a bit-level key
  * whose ascending order IS `desc_nulls_last`, correct for
  * NaN/±inf/±0.0/null by construction. The deployed sites (d14/d15)
  * rank md5 strings — no NaN exists.
  *
  * Buffer: a size-bounded max-heap (root = largest kept value); an
  * incoming row is copied only when it actually displaces the root —
  * after the heap warms up past the corpus's top-k band, updates are one
  * interpreted compare with zero allocation. Partial buffers serialize
  * as length-framed UnsafeRow bytes through the exchange.
  */
case class TopKStructs(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStructs.Buffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  private lazy val ordering: Ordering[Any] =
    TopKStructs.orderingFor(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!RowOrdering.isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"topk_structs: input type ${child.dataType.catalogString} is not orderable")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "topk_structs: k must be a foldable INT literal")
    else if (kExpr.eval() == null ||
        kExpr.eval().asInstanceOf[Number].intValue() <= 0)
      TypeCheckResult.TypeCheckFailure("topk_structs: k must be positive")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStructs =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def createAggregationBuffer(): TopKStructs.Buffer =
    new TopKStructs.Buffer(k, ordering)

  override def update(buffer: TopKStructs.Buffer,
      input: InternalRow): TopKStructs.Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v, copyOnInsert = true)
    buffer
  }

  override def merge(buffer: TopKStructs.Buffer,
      other: TopKStructs.Buffer): TopKStructs.Buffer = {
    // values in `other` were copied (update) or freshly deserialized —
    // already owned, no second copy needed
    other.foreach(v => buffer.insert(v, copyOnInsert = false))
    buffer
  }

  override def eval(buffer: TopKStructs.Buffer): Any =
    new GenericArrayData(buffer.sortedAscending())

  // ---- partial-buffer wire format: [len][UnsafeRow bytes] frames ----

  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](child.dataType))
  @transient private lazy val holder = InternalRow.fromSeq(Seq(null))

  override def serialize(buffer: TopKStructs.Buffer): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    buffer.foreach { v =>
      holder.update(0, v)
      val ur = proj.apply(holder)
      dos.writeInt(ur.getSizeInBytes)
      dos.write(ur.getBytes)
    }
    dos.close()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKStructs.Buffer = {
    val buf = new TopKStructs.Buffer(k, ordering)
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val nFields = child.dataType match {
      case s: StructType => s.length
      case _ => 1
    }
    while (in.available() > 0) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      val v = child.dataType match {
        case _: StructType => row.getStruct(0, nFields).copy()
        case t => row.get(0, t)
      }
      buf.insert(v, copyOnInsert = false)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStructs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStructs =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "topk_structs"
}

object TopKStructs {

  /** Heap ordering with a first-field fast path: the deployed struct
    * shapes lead with the rank key (a double cosine, a long count, an
    * md5 string), so nearly every heap compare is decided by field 0 —
    * paying `TypeUtils.getInterpretedOrdering`'s per-field dispatch walk
    * for it (measured: ~1.23× on d52's sf10 solo) buys nothing. The fast
    * path reads field 0 through the primitive accessor and falls back to
    * the interpreted full-struct compare ONLY on a field-0 tie, so the
    * total order is bit-identical to the interpreted one by
    * construction: the per-type comparators are the exact ones Spark's
    * interpreted ordering uses (SQLOrderingUtil for float/double — NaN
    * greatest, -0.0 == 0.0 — and binary UTF8String.compareTo for
    * default-collation strings), and ties defer entirely.
    */
  private[graft] def orderingFor(dt: DataType): Ordering[Any] = {
    val full = TypeUtils.getInterpretedOrdering(dt)
    dt match {
      case st: StructType if st.fields.nonEmpty =>
        val headCmp: (InternalRow, InternalRow) => Int =
          st.fields(0).dataType match {
            case DoubleType => (a, b) =>
              SQLOrderingUtil.compareDoubles(a.getDouble(0), b.getDouble(0))
            case FloatType => (a, b) =>
              SQLOrderingUtil.compareFloats(a.getFloat(0), b.getFloat(0))
            case LongType | TimestampType | TimestampNTZType => (a, b) =>
              java.lang.Long.compare(a.getLong(0), b.getLong(0))
            case IntegerType | DateType => (a, b) =>
              java.lang.Integer.compare(a.getInt(0), b.getInt(0))
            // the default-collation singleton ONLY: UTF8String.compareTo
            // is the binary order, which is what the interpreted
            // ordering uses for UTF8_BINARY; any other collation (or
            // type) keeps the interpreted path
            case s: StringType if s == StringType => (a, b) =>
              a.getUTF8String(0).compareTo(b.getUTF8String(0))
            case _ => null
          }
        if (headCmp == null) full
        else new Ordering[Any] {
          override def compare(x: Any, y: Any): Int = {
            val a = x.asInstanceOf[InternalRow]
            val b = y.asInstanceOf[InternalRow]
            val an = a.isNullAt(0)
            val bn = b.isNullAt(0)
            if (an || bn) {
              // asc nulls-first, matching the interpreted ordering;
              // both-null is a field-0 tie → full compare for the rest
              if (an && bn) full.compare(x, y) else if (an) -1 else 1
            } else {
              val c = headCmp(a, b)
              if (c != 0) c else full.compare(x, y)
            }
          }
        }
      case _ => full
    }
  }

  /** Bounded max-heap over the k smallest seen values: `heap(0)` is the
    * LARGEST kept value, so the common no-op case (value ≥ root once the
    * band is warm) is a single compare. Struct values arriving from
    * `child.eval` may be transient row slices — `copyOnInsert` copies
    * exactly the values that are actually kept.
    */
  final class Buffer(k: Int, ord: Ordering[Any]) {
    private val heap = new Array[Any](k)
    private var n = 0

    // InternalRow.copyValue, not a bare row.copy(): it also deep-copies
    // pointer-typed ATOMIC inputs (a bare UTF8String child points into
    // the operator's reused row buffer), and for struct rows it is what
    // GenericInternalRow.copy() delegates to per field anyway
    private def owned(v: Any, copy: Boolean): Any =
      if (copy) org.apache.spark.sql.catalyst.InternalRow.copyValue(v)
      else v

    def insert(v: Any, copyOnInsert: Boolean): Unit =
      if (n < k) {
        heap(n) = owned(v, copyOnInsert)
        n += 1
        var i = n - 1 // sift up
        while (i > 0 && ord.compare(heap((i - 1) / 2), heap(i)) < 0) {
          val p = (i - 1) / 2
          val t = heap(p); heap(p) = heap(i); heap(i) = t
          i = p
        }
      } else if (ord.compare(v, heap(0)) < 0) {
        heap(0) = owned(v, copyOnInsert)
        var i = 0 // sift down
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < n && ord.compare(heap(l), heap(m)) > 0) m = l
          if (r < n && ord.compare(heap(r), heap(m)) > 0) m = r
          if (m == i) done = true
          else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
        }
      }

    def foreach(f: Any => Unit): Unit = {
      var i = 0
      while (i < n) { f(heap(i)); i += 1 }
    }

    def sortedAscending(): Array[Any] = {
      val out = new Array[Any](n)
      System.arraycopy(heap, 0, out, 0, n)
      java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]],
        ord.asInstanceOf[java.util.Comparator[AnyRef]])
      out
    }
  }

  /** Register `topk_structs` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "topk_structs")
}
