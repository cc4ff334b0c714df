package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items summary as a Catalyst
  * `TypedImperativeAggregate`: one streaming pass, at most `k` counters
  * of state per group, mergeable across partitions — the heavy-hitter
  * primitive a 100 TB token stream needs, where an exact
  * `groupBy(token)` would shuffle every distinct token and a
  * `count(*) > n/θ` filter can only run AFTER that full shuffle.
  *
  * Contract (Misra-Gries 1982; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS 2012): after summarizing a stream of n
  * items with k counters, every stored count undercounts its item's
  * true frequency by at most n/(k+1), and — the guarantee the d56
  * query builds on — EVERY item with true frequency > n/(k+1) is
  * present in the summary (its counter cannot have been decremented to
  * zero more times than n/(k+1)). The merge preserves the bound:
  * counts are summed, then reduced by the (k+1)-th largest so at most
  * k survive. Candidates are therefore a SUPERSET of the true heavy
  * hitters; an exact-count semi-join over just the candidates (a
  * k-bounded broadcast at any scale) turns them into the exact heavy
  * set — one bounded-state pass plus one candidate-bounded pass,
  * instead of a full-cardinality shuffle.
  *
  * `eval` returns the candidate items ONLY (a lexicographically sorted
  * `array<string>`): the stored counts are lower bounds, not exact
  * values, and emitting them would invite misuse — the exact counts
  * come from the verification join. The buffer's bounds are still
  * exercised directly by MisraGriesSpec's property tests.
  */
case class MisraGriesItems(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
    with UnaryLike[Expression] {

  require(k >= 1 && k <= 65536, s"Misra-Gries counter budget k must be in [1, 65536], got $k")

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty[UTF8String, Long]

  override def update(
      buffer: mutable.HashMap[UTF8String, Long], input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // copy: the incoming UTF8String may alias reused row memory
      val item = v.asInstanceOf[UTF8String].clone()
      buffer.get(item) match {
        case Some(c) => buffer.update(item, c + 1)
        case None if buffer.size < k => buffer.update(item, 1L)
        case None =>
          // classic MG decrement-all: O(k) here, amortized O(1) per
          // item — each decrement spends one unit of count credit that
          // an earlier increment deposited. mapValuesInPlace +
          // filterInPlace rather than updating under keysIterator: the
          // map's own traversal contract covers these, with no reliance
          // on iterator stability during mutation.
          buffer.mapValuesInPlace((_, c) => c - 1)
          buffer.filterInPlace((_, c) => c > 0L)
      }
    }
    buffer
  }

  override def merge(
      buffer: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (item, c) =>
      buffer.update(item, buffer.getOrElse(item, 0L) + c)
    }
    if (buffer.size > k) {
      // Agarwal et al.: subtract the (k+1)-th largest count from every
      // counter and drop the non-positive — at most k survive, and the
      // total subtracted stays within the summed error budgets
      val counts = buffer.values.toArray
      java.util.Arrays.sort(counts)
      val d = counts(counts.length - (k + 1)) // (k+1)-th largest
      buffer.mapValuesInPlace((_, c) => c - d)
      buffer.filterInPlace((_, c) => c > 0L)
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[UTF8String, Long]): Any = {
    val items = buffer.keysIterator.toArray
    java.util.Arrays.sort(items, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(items.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buffer.size)
    buffer.foreach { case (item, c) =>
      val b = item.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(storageFormat))
    val n = in.readInt()
    val buffer = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buffer.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesItems =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesItems =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesItems =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"misra_gries_items requires a string column, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries_items"
}

object MisraGries {
  /** Candidate heavy hitters of string column `c` per group: every item
    * with in-group frequency > n/(k+1) is guaranteed present (plus
    * possibly false candidates — exact-verify downstream). Plans as an
    * ObjectHashAggregate with ≤ k counters of state per group.
    */
  def candidates(c: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesItems(ColumnBridge.expression(c), k).toAggregateExpression())
}
