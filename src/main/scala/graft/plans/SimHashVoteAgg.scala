package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** The SimHash vote arithmetic, shared by the grouped aggregate and the
  * per-row streaming twin (`Dedup.simhashMd5Local`) so the two can never
  * disagree: every input hash votes ±1 on each of the low `votes.length`
  * bits, and bit b of the fingerprint is set iff its vote is strictly
  * positive (tie → 0).
  */
object SimHashVoteAgg {
  def vote(votes: Array[Int], h: Long): Unit = {
    var i = 0
    while (i < votes.length) {
      if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
      i += 1
    }
  }

  def fold(votes: Array[Int]): Long = {
    var out = 0L
    var i = 0
    while (i < votes.length) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}

/** Vote aggregate over PRECOMPUTED hash longs: bit b of the result is
  * set iff inputs with bit b set outnumber those with it clear (strict
  * majority, tie → 0). One `bits`-counter buffer per group instead of
  * `bits` separate sum() aggregate buffers — this is what keeps the
  * md5-family SimHash (`Dedup.simhashMd5`, 60 bits) a single compact
  * aggregation while its value stays bit-identical to the 60-sum
  * expression form the DuckDB oracle replays.
  */
case class SimHashVoteAgg(
    child: Expression,
    bits: Int = 60,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_votes"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](bits)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) SimHashVoteAgg.vote(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < bits) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Int]): Any = SimHashVoteAgg.fold(buffer)

  override def serialize(buffer: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bits * 4)
    buffer.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bits)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashVoteAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashVoteAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
