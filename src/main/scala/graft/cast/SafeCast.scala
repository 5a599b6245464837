package graft.cast

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.{col, lit, struct, transform, transform_keys, transform_values, when}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Safe cast execution (`cast_table_safe`, `schema_casting.py:414-490`):
  * validate → fail on missing required columns (even non-strict) → fail on
  * loss in strict mode → null-fill sparse columns → reorder to target
  * order → cast.
  *
  * Distributed by construction: the whole thing is one `df.select` of cast
  * expressions, so it stays inside whole-stage codegen — no row-at-a-time
  * work, no driver materialization, unlike the reference's in-memory
  * `table.cast` which holds the full batch in RAM.
  */
object SafeCast {

  def apply(df: DataFrame, target: StructType, strict: Boolean = true): DataFrame = {
    val source = df.schema
    validate(source, target, strict)
    val sourceByName = source.fields.map(f => f.name -> f).toMap
    val projected = target.fields.toSeq.map { tf =>
      sourceByName.get(tf.name) match {
        case Some(sf) =>
          castExpr(col(tf.name), sf.dataType, tf.dataType).as(tf.name)
        case None =>
          // sparse incoming batch: null-fill target-only nullable columns
          // (schema_casting.py:469-477)
          lit(null).cast(tf.dataType).as(tf.name)
      }
    }
    df.select(projected: _*)
  }

  /** [[apply]] for a few driver-held rows (the pipeline's `_dlt_*`
    * bookkeeping): the same validation, null-fill and reorder, as catalyst
    * rows in `target`'s layout — no plan, no job. A column the rows carry
    * must already have its target type. */
  def rows(rows: Seq[Row], source: StructType, target: StructType,
      strict: Boolean = true): Seq[InternalRow] = {
    validate(source, target, strict)
    val index = source.fieldNames.zipWithIndex.toMap
    val slots = target.fields.toSeq.map { tf =>
      index.get(tf.name).map { i =>
        if (source(i).dataType != tf.dataType)
          throw new CastingError(s"Driver-held rows carry '${tf.name}' as " +
            s"${source(i).dataType.simpleString}, the table as " +
            tf.dataType.simpleString)
        i
      }
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(source)
    rows.map { row =>
      val in = toCatalyst(row).asInstanceOf[InternalRow]
      InternalRow.fromSeq(slots.map(_.map(i => in.get(i, source(i).dataType)).orNull))
    }
  }

  private def validate(source: StructType, target: StructType,
      strict: Boolean): Unit = {
    val validation = CastValidator.validateCast(source, target)

    val missingRequired = CastValidator.missingRequiredTargetFields(source, target)
    if (missingRequired.nonEmpty)
      throw new CastingError(
        "Cannot cast table with missing required target fields:\n" +
          missingRequired.map(f =>
            s"Required field '${f.name}' exists in target but not in source schema")
            .mkString("\n"))

    if (strict && !validation.isSafe) {
      val msg = new StringBuilder("Cannot cast table safely. Errors:\n")
      msg ++= validation.errors.mkString("\n")
      if (validation.warnings.nonEmpty)
        msg ++= "\nWarnings:\n" + validation.warnings.mkString("\n")
      throw new CastingError(msg.toString)
    }
  }

  /** Cast expression recursing through nested types
    * (`schema_casting.py:63-69` recurses the same way): Spark's plain
    * `cast` between structs is positional and arity-strict, so an
    * evolved struct target (added/missing nested fields, field-wise
    * promotion) needs an explicit field-by-name rebuild with null-fill —
    * preserving struct-level NULLs. Arrays/maps recurse element-/
    * value-wise; scalars fall back to `cast`. */
  private def castExpr(src: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => src
      case (StructType(ff), StructType(tf)) =>
        val fByName = ff.map(f => f.name -> f).toMap
        val rebuilt = struct(tf.toSeq.map { t2 =>
          (fByName.get(t2.name) match {
            case Some(sf) => castExpr(src.getField(t2.name), sf.dataType, t2.dataType)
            case None => lit(null).cast(t2.dataType)
          }).as(t2.name)
        }: _*)
        when(src.isNull, lit(null).cast(to)).otherwise(rebuilt)
      case (ArrayType(fe, _), ArrayType(te, _)) =>
        transform(src, x => castExpr(x, fe, te))
      case (MapType(fk, fv, _), MapType(tk, tv, _)) =>
        val valuesCast = transform_values(src, (_, v) => castExpr(v, fv, tv))
        if (fk == tk) valuesCast
        // only PROMOTE keys element-wise (promotions never null, so no
        // NULL_MAP_KEY risk); lossy key changes (validator-gated, reachable
        // in non-strict mode) keep Spark's whole-map cast semantics
        else if (graft.types.TypeLattice.canPromote(fk, tk))
          transform_keys(valuesCast, (k, _) => castExpr(k, fk, tk))
        else src.cast(to)
      case (_, t) => src.cast(t)
    }
}
