package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Iceberg `bucket` transform as a V2 catalog function —
  * `bucket(numBuckets, value)`. This exists so Spark can RESOLVE the
  * `bucket(N, col)` transform that [[graft.catalog.GraftScan]] reports in
  * its `KeyGroupedPartitioning`: storage-partitioned-join planning binds
  * each side's transform through the table's `FunctionCatalog`
  * ([[graft.catalog.GraftSparkCatalog.loadFunction]]) and treats the
  * sides as co-partitioned only when both bind to the same
  * `canonicalName` with the same bucket count. Evaluation delegates to
  * the same murmur3 as the write-side [[IcebergBucket]] expression, so
  * a value Spark computes here always lands in the bucket the engine's
  * layout put it in (iceberg spec fidelity pinned by `PropertySpec`).
  *
  * Reference semantics: bucket partition transform,
  * `partition_builder.py:255-256` (PyIceberg BucketTransform). */
object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col) - Iceberg murmur3 bucket transform (graft table layout)"

  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.fields.length != 2)
      throw new UnsupportedOperationException(
        s"bucket takes (numBuckets int, value), got ${inputType.simpleString}")
    if (inputType.fields(0).dataType != IntegerType)
      throw new UnsupportedOperationException(
        s"bucket count must be int, got ${inputType.fields(0).dataType.simpleString}")
    inputType.fields(1).dataType match {
      case dt @ (ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType | StringType) => Bound(dt)
      case dt: DecimalType => Bound(dt)
      case other => throw new UnsupportedOperationException(
        s"bucket transform does not support ${other.simpleString}")
    }
  }

  final case class Bound(dt: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = s"graft.bucket(${dt.catalogString})"
    override def isResultNullable: Boolean = true

    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      if (input.isNullAt(1)) return null
      val hash = dt match {
        case ByteType => IcebergHash.hashLong(input.getByte(1).toLong)
        case ShortType => IcebergHash.hashLong(input.getShort(1).toLong)
        case IntegerType | DateType => IcebergHash.hashLong(input.getInt(1).toLong)
        case LongType | TimestampType | TimestampNTZType =>
          IcebergHash.hashLong(input.getLong(1))
        case StringType =>
          IcebergHash.hashBytes(input.get(1, StringType)
            .asInstanceOf[UTF8String].getBytes)
        case d: DecimalType =>
          IcebergHash.hashDecimal(
            input.getDecimal(1, d.precision, d.scale).toJavaBigDecimal)
        case other => throw new IllegalStateException(s"unbindable $other")
      }
      Integer.valueOf((hash & Integer.MAX_VALUE) % n)
    }
  }
}
