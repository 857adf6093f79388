package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Native top-k-sims aggregate — [[TopSims]]'s Catalyst twin, for the
  * margin-denominator hot path: per group, keep the k best (sim DESC,
  * NaN first, ties to the lower id) candidates and emit their sims in
  * descending order.
  *
  * Why native and not the typed [[Aggregator]]: a
  * `groupByKey(...).mapValues(...).agg(aggregator)` plan wraps the
  * whole candidate stream in DeserializeToObject/SerializeFromObject —
  * every input row round-trips through Scala object codecs before the
  * fold even sees it, measured as the dominant 10× cost of the
  * bitext margin stage in SCALE.json (the fold itself is O(1) per
  * rejected row). A [[TypedImperativeAggregate]] runs inside the
  * ordinary hash-aggregate operator on unsafe rows: update reads two
  * primitive columns, the k-bounded buffer serializes to a few dozen
  * bytes between partial and final, and the surrounding projections
  * stay in whole-stage codegen. Same fold, same total order, same
  * result — only who pays the row codec changes.
  */
case class TopSimsAgg(
    sim: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]]
  with BinaryLike[Expression] with ExpectsInputTypes {

  override def left: Expression = sim
  override def right: Expression = id

  // update() unboxes sim/id as Double/Long; declare that contract so a
  // mistyped input (e.g. a FloatType sim) fails at ANALYSIS with a
  // type-mismatch instead of a runtime ClassCastException mid-task.
  // (covariant return: AbstractDataType is private[sql] to user code)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "top_sims"

  // best-first: higher sim wins, NaN sorts first (Double.compare —
  // matching Spark's descending sort and TopKBySim/TopSims), ties to
  // the lower id.
  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s2, s1) // negative ⟺ s1 ranks first
    if (c != 0) c < 0 else i1 < i2
  }

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.empty

  override def update(b: ArrayBuffer[(Double, Long)], input: InternalRow)
      : ArrayBuffer[(Double, Long)] = {
    val sv = sim.eval(input)
    val iv = id.eval(input)
    if (sv == null || iv == null) return b
    insert(b, sv.asInstanceOf[Double], iv.asInstanceOf[Long])
  }

  private def insert(b: ArrayBuffer[(Double, Long)], s: Double, i: Long)
      : ArrayBuffer[(Double, Long)] = {
    // O(1) rejection when the candidate cannot beat the current k-th —
    // the common case on a large scored stream
    if (b.length >= k && !better(s, i, b.last._1, b.last._2)) return b
    var pos = 0
    while (pos < b.length && better(b(pos)._1, b(pos)._2, s, i)) pos += 1
    b.insert(pos, (s, i))
    if (b.length > k) b.remove(k, b.length - k)
    b
  }

  override def merge(b1: ArrayBuffer[(Double, Long)],
      b2: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    b2.foreach { case (s, i) => insert(b1, s, i) }
    b1
  }

  override def eval(b: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(b.map(_._1).toArray)

  override def serialize(b: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.length * 16)
    bb.putInt(b.length)
    b.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new ArrayBuffer[(Double, Long)](n)
    var j = 0
    while (j < n) { b += ((bb.getDouble, bb.getLong)); j += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopSimsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopSimsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopSimsAgg =
    copy(sim = newLeft, id = newRight)
}

/** [[TopSimsAgg]] that emits the NEIGHBORHOOD MEAN instead of the sims
  * array: the margin denominator consumed every [[TopSimsAgg]] output
  * as `aggregate(sort_array(sims, DESC), 0.0, +) / size(sims)` — an
  * interpreted per-ROW HOF fold over the window-projected array, paid
  * once per candidate row in both directions. The buffer here is kept
  * best-first (sim DESC, ties to the lower id) by the same insert, so
  * folding it in order and dividing by its length is the identical
  * IEEE sequence — same doubles, same margins, same oracle hashes.
  * Empty buffer → null, matching the `when(size(sims) > 0, …)` guard
  * the leveled conditional folds used.
  */
case class TopSimsMeanAgg(
    sim: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]]
  with BinaryLike[Expression] with ExpectsInputTypes {

  override def left: Expression = sim
  override def right: Expression = id
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "top_sims_mean"

  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s2, s1)
    if (c != 0) c < 0 else i1 < i2
  }

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.empty

  override def update(b: ArrayBuffer[(Double, Long)], input: InternalRow)
      : ArrayBuffer[(Double, Long)] = {
    val sv = sim.eval(input)
    val iv = id.eval(input)
    if (sv == null || iv == null) return b
    insert(b, sv.asInstanceOf[Double], iv.asInstanceOf[Long])
  }

  private def insert(b: ArrayBuffer[(Double, Long)], s: Double, i: Long)
      : ArrayBuffer[(Double, Long)] = {
    if (b.length >= k && !better(s, i, b.last._1, b.last._2)) return b
    var pos = 0
    while (pos < b.length && better(b(pos)._1, b(pos)._2, s, i)) pos += 1
    b.insert(pos, (s, i))
    if (b.length > k) b.remove(k, b.length - k)
    b
  }

  override def merge(b1: ArrayBuffer[(Double, Long)],
      b2: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    b2.foreach { case (s, i) => insert(b1, s, i) }
    b1
  }

  override def eval(b: ArrayBuffer[(Double, Long)]): Any =
    if (b.isEmpty) null
    else {
      // DESC-ordered sequential sum — textually the oracle's
      // list_sort('DESC') + list_reduce replay, numerically the exact
      // fold meanOf ran over the projected array
      var acc = 0.0
      var j = 0
      while (j < b.length) { acc += b(j)._1; j += 1 }
      acc / b.length.toDouble
    }

  override def serialize(b: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.length * 16)
    bb.putInt(b.length)
    b.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new ArrayBuffer[(Double, Long)](n)
    var j = 0
    while (j < n) { b += ((bb.getDouble, bb.getLong)); j += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopSimsMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopSimsMeanAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopSimsMeanAgg =
    copy(sim = newLeft, id = newRight)
}
