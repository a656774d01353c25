package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/** `might_contain` over a BROADCAST Bloom filter.
  *
  * Spark's stock [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
  * takes the serialized filter as a child expression; feeding it a
  * multi-MB `Literal` embeds the bytes in every serialized task binary —
  * measured ~3 s of pure (de)serialization tax per stage for a 1 MB
  * filter over a 64-task scan, with the cost scaling in filter size ×
  * task count. Spark's own runtime filters avoid this by shipping the
  * filter through a broadcast; this expression does the same for the
  * explicit API: the task binary carries only the broadcast HANDLE, the
  * bytes move once per executor (torrent broadcast), and each task
  * deserializes the filter once, lazily.
  *
  * `child` must already be the xxhash64 of the probe key (the same
  * contract as the stock expression — hash once in the plan, codegen'd).
  * NULL in → NULL out, matching the stock three-valued semantics.
  */
case class BloomMightContainBroadcast(
    bloom: Broadcast[Array[Byte]],
    child: Expression)
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes() =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom probe child must be LONG (an xxhash64), got ${child.dataType}")
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_might_contain_bcast"

  // one deserialization per task (the expression is deserialized into
  // each task; the broadcast VALUE is fetched from the executor-local
  // block store, not the task binary)
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloom.value))

  /** Instance probe used by both eval and the generated code. */
  def test(h: Long): Boolean = filter.mightContainLong(h)

  override def nullSafeEval(h: Any): Any = test(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContainBroadcast].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.test($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainBroadcast =
    copy(child = newChild)
}
