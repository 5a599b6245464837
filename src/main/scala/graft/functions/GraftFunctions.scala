package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session registration for the engine's custom Catalyst expressions, so
  * they are callable from both the Column API (`call_function`) and SQL
  * text. Idempotent. */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def intLiteral(name: String, e: Expression): Int =
      (if (e.foldable) e.eval() else e) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$name must be an integer literal, got $other")
      }
    registry.createOrReplaceTempFunction(
      "iceberg_bucket",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "iceberg_bucket(col, numBuckets)")
        IcebergBucket(exprs.head, intLiteral("iceberg_bucket numBuckets", exprs(1)))
      },
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_shingle_hashes",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_shingle_hashes(text, n)")
        ShingleHashes(exprs.head, intLiteral("graft_shingle_hashes n", exprs(1)))
      },
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_minhash",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_minhash(hashes, numHashes)")
        MinHashSignature(exprs.head,
          intLiteral("graft_minhash numHashes", exprs(1)))
      },
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_dot",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot(a, b)")
        ArrayDot(exprs(0), exprs(1))
      },
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_qcode",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_qcode(value, boundsArrayLiteral)")
        // SQL-side bounds may arrive as array(0.1, 0.2) with decimal or
        // float element types, so coerce through a Cast before eval; a
        // non-foldable arg gets the descriptive error instead of an
        // unresolved-eval crash
        val boundsExpr = exprs(1)
        if (!boundsExpr.foldable) throw new IllegalArgumentException(
          s"graft_qcode bounds must be a foldable array<double> literal, got $boundsExpr")
        val coerced = boundsExpr.dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _) => boundsExpr
          case _: org.apache.spark.sql.types.ArrayType =>
            org.apache.spark.sql.catalyst.expressions.Cast(boundsExpr,
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType))
          case other => throw new IllegalArgumentException(
            s"graft_qcode bounds must be an array<double> literal, got type $other")
        }
        val bounds = coerced.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toDoubleArray().toSeq
          case other => throw new IllegalArgumentException(
            s"graft_qcode bounds must be an array<double> literal, got $other")
        }
        QuantileCode(exprs.head, bounds)
      },
      "built-in")
    registry.createOrReplaceTempFunction(
      "graft_bpe",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "graft_bpe(word, leftsArrayLiteral, rightsArrayLiteral)")
        def strings(e: Expression, what: String): Seq[String] = {
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_bpe $what must be a foldable array<string> literal, got $e")
          val coerced = e.dataType match {
            case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType, _) => e
            case _: org.apache.spark.sql.types.ArrayType =>
              org.apache.spark.sql.catalyst.expressions.Cast(e,
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType))
            case other => throw new IllegalArgumentException(
              s"graft_bpe $what must be an array<string> literal, got type $other")
          }
          coerced.eval() match {
            case a: org.apache.spark.sql.catalyst.util.ArrayData =>
              a.toObjectArray(org.apache.spark.sql.types.StringType).toSeq
                .map {
                  case null => throw new IllegalArgumentException(
                    s"graft_bpe $what must not contain nulls")
                  case s => s.toString
                }
            case other => throw new IllegalArgumentException(
              s"graft_bpe $what must be an array<string> literal, got $other")
          }
        }
        val lefts = strings(exprs(1), "lefts")
        val rights = strings(exprs(2), "rights")
        require(lefts.length == rights.length,
          s"graft_bpe lefts/rights length mismatch: ${lefts.length} vs ${rights.length}")
        BpeEncode(exprs.head, lefts.zip(rights))
      },
      "built-in")
  }
}
