package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Merge-on-read scan: applies equality [[DeleteFile]]s to a data-file
  * scan at read time (Iceberg v2 semantics — a delete hits rows of data
  * files with `dataSeq < delete.seq` whose key tuple matches).
  *
  * Plan shape at scale: ONE broadcast join against the (metadata-scale)
  * path→seq map to recover each row's data sequence, then one broadcast
  * left-outer join per key-column group against the aggregated delete
  * keys. Delete files are trickle-merge-sized by design — the whole point
  * of MoR is that the delete side is tiny relative to the data — so both
  * joins broadcast and the scan stays a single pass with no shuffle; a
  * backlog past [[BroadcastMaxRowsKey]] drops the hint and Spark
  * shuffle-joins the delete application instead (identical result,
  * bounded executor memory).
  * Compaction applies deletes physically and clears them, bounding the
  * delete-key working set between maintenance runs.
  */
object MorRead {

  /** Outstanding delete rows (summed from commit-time metadata, no IO)
    * above which the scan layer must NOT collect the delete state to the
    * driver ([[MorSpjReader]]) and falls back to this join-based
    * application — the same degradation standard as
    * `Dedup.driverUnionFindMax` / `GraftWriter.MaxBloomProbeKeys`: bound
    * driver memory BEFORE reading a byte, using `DeleteFile.rowCount` /
    * `PosDeleteFile.rowCount` already in the snapshot. */
  val DriverStateMaxRowsKey = "spark.graft.mor.driverStateMaxRows"
  val DriverStateMaxRowsDefault = 4000000L

  /** Delete-side rows above which a per-group key join (or the positional
    * anti-join) drops its broadcast hint and lets Spark pick a shuffle
    * join — the third degradation tier, for a table whose delete backlog
    * outgrew executor broadcast memory (missed compaction window). The
    * result is identical; only the join strategy changes. */
  val BroadcastMaxRowsKey = "spark.graft.mor.broadcastMaxRows"
  val BroadcastMaxRowsDefault = 16000000L

  def driverStateMaxRows: Long = rowCap(DriverStateMaxRowsKey, DriverStateMaxRowsDefault)

  private def broadcastMaxRows: Long = rowCap(BroadcastMaxRowsKey, BroadcastMaxRowsDefault)

  /** A row-cap key of the session conf, `default` when unset: anything
    * but a non-negative whole number fails, naming the key and value. */
  private[graft] def rowCap(key: String, default: Long): Long = {
    val v = org.apache.spark.sql.internal.SQLConf.get.getConfString(key, default.toString)
    v.trim.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
      s"$key must be a non-negative number of rows, got '$v'"))
  }

  /** Broadcast below the row threshold, plain (shuffle-planned) join
    * above it. `rows` comes from delete-file metadata, an upper bound on
    * the joined distinct-key count — over-estimating only costs the hint. */
  private def hinted(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastMaxRows) broadcast(df) else df

  /** `_metadata.file_path` is a percent-ENCODED URI (`file:///…p=a%20b…`);
    * our [[DataFile]] paths are DECODED POSIX literals. Canonicalize to
    * the decoded path (scheme stripped AND percent-decoding undone) so
    * the two representations join even when a partition value or the
    * warehouse path contains a space/unicode/'%' — a bare scheme strip
    * left those diverging and deletes silently resurrected. See
    * [[graft.functions.UriPath]]. */
  def posixPath(c: Column): Column =
    org.apache.spark.sql.classic.GraftSqlShims.column(
      graft.functions.UriPathExpr(
        org.apache.spark.sql.classic.GraftSqlShims.expression(c)))

  /** Driver-side twin of [[posixPath]]: metadata paths joined against
    * `_metadata.file_path` must pass through the SAME canonicalization as
    * the scan side, or a representation mismatch silently un-matches.
    * Literal engine paths (no scheme) pass through untouched. */
  def posixPath(p: String): String = graft.functions.UriPath.decode(p)

  /** Distinct (path, row index) keys of positional-delete files, under
    * the join-column names the scan side uses. */
  def posKeys(spark: SparkSession, posDeletes: Seq[PosDeleteFile]): DataFrame =
    spark.read.parquet(posDeletes.map(_.path): _*)
      // canonicalize stored targets too: new writes store decoded
      // literals, but externally-imported delete files (Iceberg interop)
      // may carry scheme-ful URI forms
      .select(posixPath(col("file_path")).as("__gf_path"),
        col("row_index").as("__gf_pidx")).distinct()

  /** One key-column group's delete keys with their per-file sequence, as
    * ONE multi-path scan — NOT an N-way union of per-file reads. A
    * trickle-merge backlog is many tiny delete files; a union plan grows
    * (and re-analyzes) linearly in file count on the driver, which the
    * delete-backlog bench measured at ~90 ms per file per read. The
    * multi-path scan keeps the plan constant-size and reads all files in
    * one parallel job; each row recovers its commit sequence through a
    * broadcast path→seq join on `_metadata.file_path` — the same
    * attribution trick the data side uses. Key columns are CAST to the
    * given target types (a delete written before an int→long key
    * promotion must still match). */
  def deleteKeysWithSeq(spark: SparkSession, keyCols: Seq[String],
      keyTypes: Map[String, Option[org.apache.spark.sql.types.DataType]],
      dels: Seq[DeleteFile]): DataFrame = {
    import spark.implicits._
    val seqDf = broadcast(dels.map(d => (posixPath(d.path), d.seq))
      .toDF("__gf_dpath", "__gf_dseq"))
    // Delete files written across a key-type promotion carry different
    // physical types (int32 before an int→long promotion). With every
    // target type known, an explicit read schema makes the parquet reader
    // widen each file on read (Spark 4 type-widening); otherwise merge the
    // footers and cast above the scan.
    val pathCol = posixPath(col("_metadata.file_path")).as("__gf_dpath")
    val base =
      if (keyCols.forall(k => keyTypes(k).isDefined))
        spark.read.schema(StructType(keyCols.map(k =>
            org.apache.spark.sql.types.StructField(k, keyTypes(k).get))))
          .parquet(dels.map(_.path).distinct: _*)
          .select(keyCols.map(col) :+ pathCol: _*)
      else
        spark.read.option("mergeSchema", "true")
          .parquet(dels.map(_.path).distinct: _*)
          .select(keyCols.map(k =>
            keyTypes(k).fold(col(k))(col(k).cast(_)).as(k)) :+ pathCol: _*)
    // LEFT join + row-level raise_error, not an inner join: an inner join
    // would silently DROP every key of a delete file whose path
    // representation failed to match (relative path, symlink, scheme
    // variant), resurrecting its deleted rows. A miss here is metadata
    // corruption and must fail the read loudly — and the row-level check
    // costs no extra Spark job, unlike a driver-side coverage count.
    base
      .join(seqDf, Seq("__gf_dpath"), "left")
      .withColumn("__gf_dseq",
        when(col("__gf_dseq").isNull, raise_error(concat(
          lit("graft MoR: delete-file path failed to match its own scan " +
            "(canonicalization bug or metadata corruption): "),
          col("__gf_dpath")))).otherwise(col("__gf_dseq")))
      .drop("__gf_dpath")
  }

  /** The rows of `files` under `schema` with `deletes` and `posDeletes`
    * applied. `withFile` adds a `_file` column carrying each row's origin
    * data-file path (the engine's metadata-path convention) — the Iceberg
    * `_file` metadata column, captured from `_metadata` at the scan
    * relation BEFORE any delete-application join hides it. Serves
    * runtime group filtering's matching-rows subquery. */
  def read(spark: SparkSession, schema: StructType, files: Seq[DataFile],
      deletes: Seq[DeleteFile], posDeletes: Seq[PosDeleteFile] = Nil,
      withFile: Boolean = false): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](),
        if (withFile) schema.add("_file", "string", nullable = false) else schema)
    val base = spark.read.schema(schema).parquet(files.map(_.path): _*)
    applyDeletes(spark,
      if (withFile) base.withColumn("_file", posixPath(col("_metadata.file_path")))
      else base, files, deletes, posDeletes)
  }

  /** Apply equality and positional deletes to `base`, which must be a
    * scan of exactly `files` (the hidden `_metadata` column recovers
    * row→file attribution and row position — captured ONCE up front,
    * because `_metadata` resolves only on the scan relation, not above
    * joins). No-op (and no extra plan nodes) when no delete can hit. */
  def applyDeletes(spark: SparkSession, base: DataFrame, files: Seq[DataFile],
      deletes: Seq[DeleteFile],
      posDeletes: Seq[PosDeleteFile] = Nil): DataFrame = {
    if (files.isEmpty) return base
    val minSeq = files.map(_.dataSeq).min
    val live = deletes.filter(_.seq > minSeq)
    if (live.isEmpty && posDeletes.isEmpty) return base
    import spark.implicits._

    val withMeta = base
      .withColumn("__gf_path", posixPath(col("_metadata.file_path")))
      .withColumn("__gf_pidx", col("_metadata.row_index"))
    val withPos = applyPositional(spark, withMeta, posDeletes)
      .drop("__gf_pidx")
    if (live.isEmpty) return withPos.drop("__gf_path")

    val seqDf = broadcast(files.map(f => (f.path, f.dataSeq))
      .toDF("__gf_path", "__gf_fseq"))
    val withSeq = withPos
      .join(seqDf, Seq("__gf_path"), "left")
      // a file missing from the map (cannot happen for a well-formed scan)
      // conservatively keeps its rows: null fseq fails no delete test
      .withColumn("__gf_fseq", coalesce(col("__gf_fseq"), lit(Long.MaxValue)))

    val out = live.groupBy(_.keyColumns).toSeq.sortBy(_._1.mkString(","))
      .foldLeft(withSeq) { case (df, (keyCols, dels)) =>
        // max delete-seq per key: a row dies iff ANY delete newer than its
        // file matches, iff the max matching seq does. Key columns are
        // CAST to the base scan's current types — a delete file written
        // before an int→long key promotion must still join (Iceberg reads
        // old deletes under the evolved schema the same way).
        val keyTypes = keyCols.map(k =>
          k -> base.schema.fields.find(_.name == k).map(_.dataType)).toMap
        val delKeys = deleteKeysWithSeq(spark, keyCols, keyTypes, dels)
          .groupBy(keyCols.map(col): _*)
          .agg(max(col("__gf_dseq")).as("__gf_dseq"))
        df.join(hinted(delKeys, dels.map(_.rowCount).sum), keyCols, "left_outer")
          .filter(col("__gf_dseq").isNull || col("__gf_dseq") <= col("__gf_fseq"))
          .drop("__gf_dseq")
      }
    out.drop("__gf_path", "__gf_fseq")
  }

  /** Positional application: one broadcast anti-join on the
    * (`__gf_path`, `__gf_pidx`) columns the caller captured from
    * `_metadata`. Entries for files no longer in the scan simply never
    * match — positions are self-fencing by path. */
  private def applyPositional(spark: SparkSession, withMeta: DataFrame,
      posDeletes: Seq[PosDeleteFile]): DataFrame = {
    if (posDeletes.isEmpty) return withMeta
    withMeta.join(
      hinted(posKeys(spark, posDeletes), posDeletes.map(_.rowCount).sum),
      Seq("__gf_path", "__gf_pidx"), "left_anti")
  }
}
