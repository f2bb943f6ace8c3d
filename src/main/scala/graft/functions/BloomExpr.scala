package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a pre-built Bloom filter, as a native codegen
  * expression: `bloom.mightContainLong(key)` inlined into whole-stage
  * codegen, so the probe rides the parquet scan stage — rows that cannot
  * join are dropped BEFORE the shuffle, which is the entire point of a
  * Bloom-pruned join (see [[graft.operators.Scale.bloomPruneJoin]]).
  *
  * The filter travels as its serialized bytes (the expression tree is
  * shipped to every executor with the plan) and is deserialized once per
  * JVM-side instantiation, never per row. No false negatives by Bloom
  * construction — a `false` here is PROOF the key has no match — so a
  * subsequent exact join keeps results exact regardless of the
  * false-positive rate.
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the deserialized filter goes into the codegen references array (the
    // same pattern Spark's own runtime-filter probe uses): one object per
    // task, a bitset probe per row
    val b = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$b.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Bloom-filter BUILD as a distributed aggregate (the other half of
  * [[BloomMightContainLong]]): one pass folds a LONG key column into a
  * fixed-geometry Bloom filter per group — map-side partials merge by
  * bitset OR, so construction is order-independent and deterministic
  * given (expectedItems, fpp). Grouped by `_metadata.file_path` this
  * builds a per-FILE bloom MANIFEST in one scan (the Delta/Iceberg
  * bloom-index shape — see [[graft.operators.Scale.bloomManifestPaths]]),
  * where the driver-loop alternative would cost one filtered scan per
  * file. Emits the serialized filter bytes; nulls are ignored (a null
  * key is never probed).
  */
case class BloomBuild(child: Expression, expectedItems: Long, fpp: Double,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[BloomFilter]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(expectedItems >= 1 && fpp > 0 && fpp < 1,
    s"bad bloom geometry: items=$expectedItems fpp=$fpp")

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_build"

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buf: BloomFilter,
                      input: org.apache.spark.sql.catalyst.InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.putLong(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
    buf.mergeInPlace(other); buf
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    buf.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBuild =
    copy(child = newChild)
}
