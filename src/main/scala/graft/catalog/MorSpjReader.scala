package graft.catalog

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** Per-row merge-on-read delete application UNDER the storage-partitioned
  * scan — what lets a merged (outstanding-delete) table keep its
  * `KeyGroupedPartitioning` report and join shuffle-free. Deletes remove
  * rows but never change a data file's partition tuple, so the key report
  * stays valid; what changes is only the row stream, filtered here inside
  * the wrapped [[PartitionReaderFactory]].
  *
  * Scale shape: the delete side is trickle-merge-sized by design (the
  * same premise as [[MorRead]]'s broadcast joins), so the whole delete
  * state is collected ONCE on the driver and shipped as a broadcast —
  * equality-delete keys as an `UnsafeRow → max-sequence` hash map per
  * key-column group, positional deletes as a per-file row-index set. Each
  * task then pays one hash probe per row per group, no join, no shuffle,
  * and compaction (`Maintenance.applyDeletes`) bounds the working set
  * between maintenance runs.
  *
  * Key fidelity: both the driver (stored keys) and the executors (probe
  * keys) project through `UnsafeProjection`s built from the SAME
  * table-schema types, so equal values produce byte-identical rows —
  * including decimals and, via [[NormalizeNaNAndZero]] on float/double
  * keys, the NaN/-0.0 normalization Spark applies to join and aggregate
  * keys. A probe row with a null key never matches (the null bit differs
  * from every stored non-null key), reproducing SQL join semantics where
  * null keys delete nothing.
  */
object MorSpjReader {

  /** One equality-delete key group: the key column names, the global max
    * sequence (files at or past it skip probing entirely), and the
    * key → max-matching-sequence map. */
  final case class EqGroup(keyCols: Seq[String], maxSeq: Long,
      keys: java.util.HashMap[UnsafeRow, java.lang.Long])

  /** Broadcast delete state: equality groups + per-file positional
    * row-index sets (keyed by the engine's POSIX file path). */
  final case class DeleteState(eq: Seq[EqGroup],
      pos: Map[String, java.util.HashSet[java.lang.Long]])

  /** Collect the delete state driver-side (one tiny Spark job per
    * equality group, same cost as [[MorRead]]'s broadcast build) and wrap
    * `inner` so every emitted row has the deletes applied. */
  def factory(spark: SparkSession, inner: PartitionReaderFactory,
      tableSchema: StructType, extendedSchema: StructType,
      requestedSchema: StructType, files: Seq[DataFile],
      deletes: Seq[DeleteFile], posDeletes: Seq[PosDeleteFile]):
      PartitionReaderFactory = {
    val state = collectState(spark, tableSchema, files, deletes, posDeletes)
    val bc = spark.sparkContext.broadcast(state)
    new Factory(inner, bc, extendedSchema, requestedSchema)
  }

  private def collectState(spark: SparkSession, tableSchema: StructType,
      files: Seq[DataFile], deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile]): DeleteState = {
    val minSeq = if (files.isEmpty) 0L else files.map(_.dataSeq).min
    val live = deletes.filter(_.seq > minSeq)
    val eq = live.groupBy(_.keyColumns).toSeq.sortBy(_._1.mkString(","))
      .map { case (keyCols, dels) =>
        // distinct keys + max sequence via ONE multi-path scan (a
        // per-file union plan costs ~90 ms/file per read — see
        // MorRead.deleteKeysWithSeq), keys CAST to the current table
        // types (a delete written before an int→long promotion must still
        // match — same rule as MorRead) and null-keyed rows dropped (they
        // can never match a probe).
        val df = MorRead.deleteKeysWithSeq(spark, keyCols,
            keyCols.map(k => k -> Some(tableSchema(k).dataType)).toMap, dels)
          .na.drop("any", keyCols)
          .groupBy(keyCols.map(col): _*)
          .agg(max(col("__gf_dseq")).as("__gf_dseq"))
        val rows = df.queryExecution.executedPlan.executeCollect()
        val proj = keyProjection(keyCols.indices.map(i =>
          (i, tableSchema(keyCols(i)).dataType)))
        val m = new java.util.HashMap[UnsafeRow, java.lang.Long](
          rows.length * 2)
        val seqOrd = keyCols.length
        rows.foreach { r =>
          val k = proj(r).copy()
          val s = r.getLong(seqOrd)
          val prev = m.get(k)
          if (prev == null || prev < s) m.put(k, s)
        }
        EqGroup(keyCols, dels.map(_.seq).max, m)
      }
    val pos =
      if (posDeletes.isEmpty) Map.empty[String, java.util.HashSet[java.lang.Long]]
      else MorRead.posKeys(spark, posDeletes).collect()
        .groupBy(_.getString(0))
        .map { case (p, rs) =>
          val s = new java.util.HashSet[java.lang.Long](rs.length * 2)
          rs.foreach(r => s.add(r.getLong(1)))
          p -> s
        }
    DeleteState(eq, pos)
  }

  /** UnsafeProjection over (ordinal, type) key slots with Spark's
    * float/double join-key normalization — the single definition both
    * the driver (stored keys) and executors (probe keys) use, so the
    * byte encodings agree. */
  private def keyProjection(
      slots: Seq[(Int, org.apache.spark.sql.types.DataType)]): UnsafeProjection =
    UnsafeProjection.create(slots.map { case (ord, dt) =>
      val ref: Expression = BoundReference(ord, dt, nullable = true)
      dt match {
        case FloatType | DoubleType => NormalizeNaNAndZero(ref)
        case _ => ref
      }
    })

  private final class Factory(inner: PartitionReaderFactory,
      bc: Broadcast[DeleteState], extendedSchema: StructType,
      requestedSchema: StructType) extends PartitionReaderFactory {

    // row-based by contract: positional row counting and per-row probing
    // need the row stream (the parquet factory still reads vectorized
    // internally and exposes the batch's row view)
    override def supportColumnarReads(partition: InputPartition): Boolean =
      false

    override def createReader(partition: InputPartition):
        PartitionReader[InternalRow] = {
      val mp = partition.asInstanceOf[GraftScan.MorPartition]
      val base = inner.createReader(mp)
      val state = bc.value
      // groups with no delete newer than this partition's files are
      // skipped wholesale (typical for freshly-written files)
      val probes: Array[(java.util.HashMap[UnsafeRow, java.lang.Long], UnsafeProjection)] =
        state.eq.filter(_.maxSeq > mp.fileSeq).map { g =>
          val slots = g.keyCols.map { k =>
            val ord = extendedSchema.fieldIndex(k)
            (ord, extendedSchema(ord).dataType)
          }
          (g.keys, keyProjection(slots))
        }.toArray
      val posSet: java.util.HashSet[java.lang.Long] =
        mp.posPath.flatMap(state.pos.get).orNull
      val outProj: UnsafeProjection =
        if (extendedSchema == requestedSchema) null
        else UnsafeProjection.create(requestedSchema.map { f =>
          val ord = extendedSchema.fieldIndex(f.name)
          BoundReference(ord, extendedSchema(ord).dataType,
            extendedSchema(ord).nullable): Expression
        })
      val fileSeq = mp.fileSeq

      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        private var rowIdx = -1L

        private def alive(row: InternalRow): Boolean = {
          var i = 0
          while (i < probes.length) {
            val (keys, proj) = probes(i)
            val s = keys.get(proj(row))
            if (s != null && s > fileSeq) return false
            i += 1
          }
          true
        }

        override def next(): Boolean = {
          while (base.next()) {
            rowIdx += 1
            val row = base.get()
            if ((posSet == null || !posSet.contains(rowIdx)) && alive(row)) {
              current = if (outProj == null) row else outProj(row)
              return true
            }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = base.close()
      }
    }
  }
}
