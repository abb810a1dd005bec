package graft.catalyst

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Space-Saving summary (Metwally et al. 2005, "Efficient
  * computation of frequent and top-k elements in data streams"), the
  * merge following the mergeable-summaries discipline (Agarwal et al.
  * 2012). Per tracked value the summary holds
  *
  *   `cnt` — the running estimate, and
  *   `err` — the accumulated uncertainty, with the invariant
  *           |true_count − cnt| ≤ err  (so err == 0 ⟹ cnt is EXACT).
  *
  * Two places create uncertainty, and only those two:
  *  - update-path eviction: a newcomer inherits the evicted minimum
  *    (cnt = min+1, err = min) — the classic Space-Saving step, which
  *    OVERcounts by ≤ err;
  *  - merge with a summary that has ever been lossy: a key absent from
  *    one side contributes that side's `absentFloor` (its min count if
  *    full, else only what merge-trims discarded) to err, since the key
  *    could have been evicted there with up to that count — absent-as-0
  *    UNDERcounts by ≤ that floor.
  * A summary that never evicts (capacity ≥ per-partition distincts)
  * stays err-free end to end, which is what makes the aggregate
  * self-certifying: the caller can read err == 0 off the result instead
  * of assuming it.
  */
final class SpaceSavingSummary(val capacity: Int) {
  val entries: mutable.HashMap[String, Array[Long]] = mutable.HashMap.empty
  /** Max count ever discarded by a merge-trim (trimmed mass is LOST,
    * unlike update-eviction mass, which the newcomer inherits). */
  var trimFloor: Long = 0L
  /** Max count ever displaced by an update-path eviction. Tracked
    * separately from "summary is at capacity" so a column with exactly
    * `capacity` distincts — tracked completely, never churned — still
    * certifies as exact. */
  var evictFloor: Long = 0L

  private def minEntry: (String, Array[Long]) =
    entries.minBy { case (k, ce) => (ce(0), k) }

  def add(v: String, weight: Long = 1L): Unit = {
    entries.get(v) match {
      case Some(ce) => ce(0) += weight
      case None if entries.size < capacity =>
        entries.update(v, Array(weight, 0L))
      case None =>
        val (mk, mce) = minEntry
        entries.remove(mk)
        // newcomer inherits the evicted minimum: cnt min+w, err min
        evictFloor = math.max(evictFloor, mce(0))
        entries.update(v, Array(mce(0) + weight, mce(0)))
    }
  }

  /** The count a key ABSENT from this summary may truly have reached
    * here: 0 unless something was actually evicted or trimmed away. */
  def absentFloor: Long = math.max(trimFloor, evictFloor)

  def merge(other: SpaceSavingSummary): Unit = {
    val selfFloor = absentFloor // BEFORE mutation
    val otherFloor = other.absentFloor
    other.entries.foreach { case (k, oce) =>
      entries.get(k) match {
        case Some(ce) => ce(0) += oce(0); ce(1) += oce(1)
        case None => entries.update(k, Array(oce(0), oce(1) + selfFloor))
      }
    }
    // keys only on OUR side may have lived (and died) on the other side
    if (otherFloor > 0)
      entries.foreach { case (k, ce) =>
        if (!other.entries.contains(k)) ce(1) += otherFloor
      }
    trimFloor = math.max(trimFloor, other.trimFloor)
    evictFloor = math.max(evictFloor, other.evictFloor)
    if (entries.size > capacity) {
      val sorted = entries.toSeq.sortBy { case (k, ce) => (-ce(0), k) }
      val keepSet = sorted.take(capacity).map(_._1).toSet
      // a dropped key's TRUE count is ≤ its cnt + err: that's the floor
      val worst = sorted.drop(capacity)
        .map { case (_, ce) => ce(0) + ce(1) }.max
      trimFloor = math.max(trimFloor, worst)
      entries.filterInPlace { case (k, _) => keepSet.contains(k) }
    }
  }
}

/** Native single-pass heavy-hitter top-k behind
  * [[graft.profile.Profiler.topKNative]]. The profiler reaches it only
  * through its top-k valve
  * ([[graft.profile.Profiler.TopkSketchThresholdKey]]: a string column
  * whose distinct count exceeds the threshold); below it the exact
  * groupBy runs. One ObjectHashAggregate over the column — partial
  * summaries of ≤ `capacity` entries per partition, merged on the
  * driver-side final aggregation. Emits the top `k` (cnt desc, value
  * asc) as `struct<floor:bigint, top:array<struct<value:string, cnt:bigint,
  * err:bigint>>>`. Two levels of self-certification ride the result:
  *  - `floor == 0` — no value was ever evicted or merge-trimmed
  *    anywhere in the aggregation: the summary tracked EVERY distinct
  *    value with exact counts, so the emitted top-k IS the exact
  *    path's answer, lexicographic tie-breaks included;
  *  - per-entry `err == 0` — that entry's cnt is exact even if other
  *    values churned around it.
  * The caller reads the certificate off the result instead of assuming
  * it, and schedules a recount pass only when the certificate fails
  * (see [[graft.profile.Profiler.topKNative]]).
  *
  * Beyond-reference scale infrastructure (the reference profiles
  * 4,150-row frames where exact groupBy is free); at 100 TB this is the
  * difference between shuffling `capacity × partitions` rows and
  * shuffling every distinct value.
  */
case class SpaceSavingTopK(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingSummary] with UnaryLike[Expression] {

  require(k > 0 && capacity >= k, s"need capacity >= k > 0, got k=$k cap=$capacity")

  override def prettyName: String = "space_saving_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("floor", LongType, nullable = false),
    StructField("top", ArrayType(StructType(Seq(
      StructField("value", StringType), StructField("cnt", LongType),
      StructField("err", LongType))), containsNull = false))))

  override def createAggregationBuffer(): SpaceSavingSummary =
    new SpaceSavingSummary(capacity)

  override def update(buf: SpaceSavingSummary, input: InternalRow): SpaceSavingSummary = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: SpaceSavingSummary, other: SpaceSavingSummary): SpaceSavingSummary = {
    buf.merge(other); buf
  }

  override def eval(buf: SpaceSavingSummary): Any = {
    val top = buf.entries.toSeq
      .sortBy { case (v, ce) => (-ce(0), v) }.take(k)
      .map { case (v, ce) =>
        InternalRow(UTF8String.fromString(v), ce(0), ce(1)) }
    InternalRow(buf.absentFloor, new GenericArrayData(top.toArray[Any]))
  }

  override def serialize(buf: SpaceSavingSummary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity)
    out.writeLong(buf.trimFloor)
    out.writeLong(buf.evictFloor)
    out.writeInt(buf.entries.size)
    buf.entries.foreach { case (v, ce) =>
      val b = v.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b)
      out.writeLong(ce(0)); out.writeLong(ce(1))
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new SpaceSavingSummary(in.readInt())
    buf.trimFloor = in.readLong()
    buf.evictFloor = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.entries.update(new String(b, "UTF-8"), Array(in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingTopK =
    copy(child = newChild)
}
