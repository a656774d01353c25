package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Shared write-side distribution for bucketed layouts — ONE home for
  * the "cluster by the bucket columns into EXACTLY n partitions"
  * requirement (HashPartitioning then makes the write-task id the
  * bucket id), so the CTAS staging path and the INSERT/streaming path
  * can never route rows differently while stamping the same
  * `bucket=` tag. */
private[sources] trait BucketDistribution
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  def bucketSpec: Option[(Seq[String], Int)]

  /** Partition-transform layout ([[graft.store.PartitionSpec]]): the
    * write requires a LOCAL sort by the source columns, so the rolling
    * partitioned writer sees each partition value as one contiguous
    * run and emits one file per (task, partition) — the same local
    * sort Spark's own FileFormatWriter plans for partitioned inserts.
    * By default no distribution requirement: appends are usually
    * day-aligned already, and a shuffle per insert would tax the
    * common case. Opt-in WRITE DISTRIBUTION MODES change that for the
    * restatement / backfill shapes where input partitioning is
    * adversarial (every task holds rows of every partition → #tasks ×
    * #partitions small files):
    *
    *  - `spark.graft.write.distribution = hash`: cluster the shuffle
    *    by the partition SOURCE columns, non-strict, with
    *    [[advisoryPartitionSizeInBytes]] — AQE's size-targeted
    *    rebalance then coalesces small clusters together and splits
    *    skewed ones, and the local sort turns each task into one file
    *    per contiguous partition run: total files ≈
    *    max(#partitions, bytes / target) instead of #tasks ×
    *    #partitions.
    *  - `= range`: globally ordered by the source columns — same file
    *    budget, plus cross-file non-overlap for range-predicate
    *    skipping.
    *  - `= none` (default): today's behavior.
    *
    * `spark.graft.write.targetFileSizeBytes` (default 128 MiB) is the
    * advisory — it measures UNCOMPRESSED shuffle bytes, so parquet
    * files land smaller by roughly the codec ratio. A bucketed layout
    * ignores the mode: its distribution is the bucket contract
    * (exactly n partitions, strict), and Spark refuses advisory sizes
    * alongside a required partition count. */
  def partSpec: Seq[graft.store.PartitionSpec.PartField] = Nil

  private def distributionMode: String =
    org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.write.distribution", "none")

  /** Clustering key for one partition field: the DERIVED transform
    * value, not the raw source column. Hashing the source column
    * splinters one partition VALUE across as many clusters as the
    * column has distinct values under it (a month of daily timestamps
    * lands in ~30 hash clusters, each of which the local sort then
    * turns into its own file — measured 317 files for 80 months on the
    * sf0.1 orders restatement, vs ~1/month intended). The named
    * transforms resolve through the snapshot FunctionCatalog
    * ([[PartitionTransformFunction]]), whose equivalence classes match
    * [[graft.store.PartitionSpec.deriveColumn]] exactly. */
  private def clusterExpr(
      f: graft.store.PartitionSpec.PartField): org.apache.spark.sql.connector.expressions.Expression = {
    import org.apache.spark.sql.connector.expressions.Expressions.{apply => fnApply, column, literal}
    f.transform match {
      case "identity" => column(f.col)
      case "truncate" => fnApply("truncate", literal(f.arg), column(f.col))
      case t          => fnApply(t, column(f.col))
    }
  }

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    bucketSpec match {
      case Some((cols, _)) =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray)
      case None => distributionMode match {
        case "hash" if partSpec.nonEmpty =>
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            partSpec.map(clusterExpr).toArray)
        case "range" if partSpec.nonEmpty =>
          org.apache.spark.sql.connector.distributions.Distributions.ordered(
            partSpec.map(f => org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(f.col),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray)
        case "none" | "hash" | "range" =>
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        case other => throw new IllegalArgumentException(
          s"spark.graft.write.distribution must be none|hash|range, got '$other'")
      }
    }
  /** Strict only for the bucket contract (the task id IS the bucket
    * id); hash/range are throughput hints AQE may rebalance. */
  override def distributionStrictlyRequired(): Boolean = bucketSpec.isDefined
  override def requiredNumPartitions(): Int = bucketSpec.map(_._2).getOrElse(0)
  override def advisoryPartitionSizeInBytes(): Long =
    if (bucketSpec.isEmpty && partSpec.nonEmpty && distributionMode != "none")
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.write.targetFileSizeBytes", (128L << 20).toString).toLong
    else 0L
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    partSpec.map(f => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(f.col),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
}

/** The V2 `bucket` function backing storage-partitioned joins over
  * [[graft.store.SnapshotStore.bucketedCommit]] tables.
  *
  * Spark resolves a scan's `bucket(n, cols)` transform through the
  * table's FUNCTION catalog before it will key-group partitions; the
  * bound function must compute exactly the row→bucket route the WRITER
  * used, because Spark may evaluate it (partially-clustered
  * distributions, missing-partition fill-in). The writer routes via
  * `df.repartition(n, cols)` = Spark's own HashPartitioning, i.e.
  * `pmod(murmur3(cols, seed = 42), n)` with the multi-column hash
  * CHAINED (each column's hash seeds the next) — reproduced here on
  * the unsafe Murmur3 primitives.
  *
  * `canonicalName` is the compatibility token two join sides compare;
  * it is stable across catalog instances by construction. */
object BucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, cols...): pmod(murmur3(cols, 42), n) — the snapshot store's bucketed-commit route"

  /** Types whose hash we reproduce bit-for-bit from HashPartitioning.
    * Anything else refuses to bind: transform resolution then fails and
    * Spark simply plans without key grouping (correct, just shuffled). */
  private def hashable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
        TimestampType | TimestampNTZType | StringType | BooleanType => true
    case _ => false
  }

  override def bind(inputType: StructType): BoundFunction = {
    // every refusal is UnsupportedOperationException — the soft-failure
    // type Spark's function resolution treats as "plan without this",
    // so a direct SQL invocation gets the designed refusal, not a raw
    // IllegalArgumentException
    if (inputType.fields.length < 2) throw new UnsupportedOperationException(
      s"bucket expects (numBuckets, col, ...), got $inputType")
    if (inputType.fields.head.dataType != IntegerType) throw new UnsupportedOperationException(
      s"bucket's first argument is the bucket count (int), got ${inputType.fields.head.dataType}")
    val keyTypes = inputType.fields.tail.map(_.dataType)
    keyTypes.foreach(t => if (!hashable(t)) throw new UnsupportedOperationException(
      s"bucket: unsupported key type $t (supported: integral/date/timestamp/string/boolean)"))
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = IntegerType +: keyTypes
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.snapshot.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        var h = 42
        var i = 0
        while (i < keyTypes.length) {
          val ord = i + 1
          // null columns leave the seed unchanged — Murmur3Hash semantics
          if (!input.isNullAt(ord)) h = keyTypes(i) match {
            case LongType | TimestampType | TimestampNTZType =>
              Murmur3_x86_32.hashLong(input.getLong(ord), h)
            case IntegerType | DateType =>
              Murmur3_x86_32.hashInt(input.getInt(ord), h)
            case ShortType => Murmur3_x86_32.hashInt(input.getShort(ord).toInt, h)
            case ByteType => Murmur3_x86_32.hashInt(input.getByte(ord).toInt, h)
            case BooleanType => Murmur3_x86_32.hashInt(if (input.getBoolean(ord)) 1 else 0, h)
            case StringType =>
              val s = input.getUTF8String(ord)
              Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), h)
            case other => throw new IllegalStateException(s"unreachable: $other")
          }
          i += 1
        }
        ((h % n) + n) % n // pmod: HashPartitioning.partitionIdExpression
      }
    }
  }
}

/** Partition-transform scalar functions (`years`/`months`/`days`/
  * `hours`/`truncate`) served by the snapshot FunctionCatalog so a
  * write's required CLUSTERED distribution can key on the derived
  * partition value (Spark resolves named transforms in a required
  * distribution through the table catalog's FunctionCatalog — the
  * Iceberg pattern).
  *
  * Contract: each function is an INJECTIVE image of
  * [[graft.store.PartitionSpec.deriveColumn]]'s equivalence classes —
  * two rows get equal results here iff they land in the same partition
  * directory — which is all a clustering key needs (the rendered
  * string itself is not required). Temporal transforms reduce to
  * epoch-day arithmetic: zoned timestamps floor in UTC, NTZ timestamps
  * use their local date part, both exactly as deriveColumn does. */
private[sources] final case class PartitionTransformFunction(fn: String)
    extends UnboundFunction {

  override def name(): String = fn

  override def description(): String =
    s"$fn: snapshot partition transform (write-distribution clustering key)"

  private def temporalOk(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => fn != "hours" || dt != DateType
    case _ => false
  }

  override def bind(inputType: StructType): BoundFunction = fn match {
    case "years" | "months" | "days" | "hours" =>
      if (inputType.fields.length != 1 || !temporalOk(inputType.fields.head.dataType))
        throw new UnsupportedOperationException(
          s"$fn expects one date/timestamp argument, got $inputType")
      val dt = inputType.fields.head.dataType
      new ScalarFunction[java.lang.Long] {
        override def inputTypes(): Array[DataType] = Array(dt)
        override def resultType(): DataType = LongType
        override def name(): String = fn
        override def canonicalName(): String = s"graft.snapshot.$fn"
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): java.lang.Long = {
          if (input.isNullAt(0)) return null
          val epochDay: Long = dt match {
            case DateType => input.getInt(0).toLong
            case _        => Math.floorDiv(input.getLong(0), 86400000000L)
          }
          fn match {
            case "days"  => epochDay
            case "hours" => Math.floorDiv(input.getLong(0), 3600000000L)
            case "months" =>
              val d = java.time.LocalDate.ofEpochDay(epochDay)
              d.getYear * 12L + (d.getMonthValue - 1)
            case "years" =>
              java.time.LocalDate.ofEpochDay(epochDay).getYear.toLong
          }
        }
      }
    case "truncate" =>
      if (inputType.fields.length != 2 ||
          inputType.fields.head.dataType != IntegerType)
        throw new UnsupportedOperationException(
          s"truncate expects (width int, value), got $inputType")
      inputType.fields(1).dataType match {
        case StringType =>
          new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
            override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
            override def resultType(): DataType = StringType
            override def name(): String = fn
            override def canonicalName(): String = "graft.snapshot.truncate"
            override def isResultNullable: Boolean = true
            override def produceResult(input: InternalRow): org.apache.spark.unsafe.types.UTF8String =
              if (input.isNullAt(1)) null
              // 1-based codepoint prefix — substring(col, 1, w) semantics
              else input.getUTF8String(1).substringSQL(1, input.getInt(0))
          }
        case it @ (IntegerType | LongType) =>
          new ScalarFunction[java.lang.Long] {
            override def inputTypes(): Array[DataType] = Array(IntegerType, it)
            override def resultType(): DataType = LongType
            override def name(): String = fn
            override def canonicalName(): String = "graft.snapshot.truncate"
            override def isResultNullable: Boolean = true
            override def produceResult(input: InternalRow): java.lang.Long = {
              if (input.isNullAt(1)) return null
              val w = input.getInt(0).toLong
              val v = it match {
                case IntegerType => input.getInt(1).toLong
                case _           => input.getLong(1)
              }
              v - Math.floorMod(v, w)
            }
          }
        case other => throw new UnsupportedOperationException(
          s"truncate: unsupported value type $other (supported: string/int/long)")
      }
    case other => throw new UnsupportedOperationException(
      s"unknown partition transform function $other")
  }
}

private[sources] object PartitionTransformFunction {
  val names: Seq[String] = Seq("years", "months", "days", "hours", "truncate")
}
