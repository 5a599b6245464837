package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._

/** The two whole-file claim tiers the scan builder once ran — identity
  * keys over value-exact files, then range-constancy over exact-order
  * intervals — kept as the reference [[StatsPrune.claim]] must agree
  * with. Each decodes stat strings to external values and converts them
  * to catalyst ones, the round trip [[StatValue.decode]] replaces. */
object ClaimReference {

  def decodeStat(dt: DataType, s: String): Any = dt match {
    case StringType => s
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case _: DecimalType => new java.math.BigDecimal(s)
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
    case TimestampType =>
      val micros = s.toLong
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    case TimestampNTZType =>
      val micros = s.toLong
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case other => throw new IllegalStateException(s"decode: $other")
  }

  private def keyDecodable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | _: DecimalType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def filePredicate(e: Expression, attrs: Seq[Attribute]): BasePredicate =
    Predicate.createInterpreted(BindReferences.bindReference(e, AttributeSeq(attrs)))

  /** Tier 1: identity-partition-key predicates over value-exact files. */
  def metaFilteredFiles(committedSchema: StructType, partitionSpec: Seq[PartitionFieldSpec],
      morFiles: Seq[DataFile], catalystFilters: Seq[Expression]): Option[Seq[DataFile]] = {
    if (catalystFilters.isEmpty) return Some(morFiles)
    val keyCols = partitionSpec.filter(_.transform == "identity")
      .map(_.source).filter(committedSchema.fieldNames.contains).toSet
    val refs = catalystFilters.flatMap(_.references.toSeq.map(_.name)).toSet
    if (!catalystFilters.forall(_.deterministic) ||
        !refs.subsetOf(keyCols) ||
        catalystFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
      return None
    val attrs: Seq[Attribute] =
      catalystFilters.flatMap(_.references.toSeq).distinctBy(_.exprId)
    if (!attrs.forall(a => keyDecodable(a.dataType))) return None
    val pred = filePredicate(catalystFilters.reduce(And), attrs)
    val converters = attrs.map(a =>
      CatalystTypeConverters.createToCatalystConverter(a.dataType))
    val decided = morFiles.map { f =>
      val key: Seq[Option[Option[Any]]] = attrs.map { a =>
        f.stats.get(a.name) match {
          case Some(cs) => (cs.min, cs.max) match {
            case (Some(x), Some(y)) if x == y && cs.nullCount.contains(0L) =>
              Some(Some(decodeStat(a.dataType, x)))
            case (None, None) if cs.nullCount.contains(f.rowCount) =>
              Some(None)
            case _ => None
          }
          case _ => None
        }
      }
      if (key.exists(_.isEmpty)) None
      else {
        val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          key.flatten.zip(converters).map { case (v, conv) => v.map(conv).orNull })
        Some((f, pred.eval(row)))
      }
    }
    if (decided.exists(_.isEmpty)) None
    else Some(decided.flatten.collect { case (f, true) => f })
  }

  /** Tier 2: comparison predicates no file's exact stat interval
    * straddles. */
  def rangeClaimFiles(committedSchema: StructType, morFiles: Seq[DataFile],
      catalystFilters: Seq[Expression]): Option[Seq[DataFile]] = {
    if (!catalystFilters.forall(_.deterministic) ||
        catalystFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
      return None
    val pred = catalystFilters.reduce(And)
    val attrs: Seq[Attribute] = pred.references.toSeq.distinctBy(_.exprId)
    def rangeOk(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    if (attrs.isEmpty || !attrs.forall(a => rangeOk(a.dataType) &&
        committedSchema.fieldNames.contains(a.name))) return None
    val checks = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def attrLit(l: Expression, r: Expression): Option[(Attribute, Literal)] =
      (l, r) match {
        case (a: AttributeReference, lit: Literal) => Some((a, lit))
        case (lit: Literal, a: AttributeReference) => Some((a, lit))
        case _ => None
      }
    def valid(e: Expression): Boolean = e match {
      case And(l, r) => valid(l) && valid(r)
      case Or(l, r) => valid(l) && valid(r)
      case Not(c) => valid(c)
      case Literal(_, BooleanType) => true
      case IsNull(_: AttributeReference) => true
      case IsNotNull(_: AttributeReference) => true
      case bc: BinaryComparison =>
        attrLit(bc.left, bc.right) match {
          case Some((a, lit)) =>
            checks += bc; checks += LessThan(a, lit); true
          case None => false
        }
      case In(a: AttributeReference, elems)
          if elems.forall(_.isInstanceOf[Literal]) =>
        checks += e
        elems.foreach(l => checks += LessThan(a, l.asInstanceOf[Literal]))
        true
      case InSet(a: AttributeReference, hset) =>
        checks += e
        hset.foreach(v => checks += LessThan(a, Literal(v, a.dataType)))
        true
      case _ => false
    }
    if (!valid(pred)) return None
    val evalPred = filePredicate(pred, attrs)
    val evalChecks = checks.toSeq.map(c => filePredicate(c, attrs))
    val converters = attrs.map(a =>
      CatalystTypeConverters.createToCatalystConverter(a.dataType))
    val decided: Seq[Option[(DataFile, Boolean)]] = morFiles.map { f =>
      if (f.rowCount == 0L) Some((f, false))
      else {
        val reps: Seq[Option[(Any, Any)]] = attrs.zip(converters).map {
          case (a, conv) =>
            f.stats.get(a.name) match {
              case Some(cs) if cs.nullCount.contains(0L) &&
                  cs.min.isDefined && cs.max.isDefined =>
                Some((conv(decodeStat(a.dataType, cs.min.get)),
                  conv(decodeStat(a.dataType, cs.max.get))))
              case Some(cs) if cs.nullCount.contains(f.rowCount) =>
                Some((null, null))
              case _ => None
            }
        }
        if (reps.exists(_.isEmpty)) None
        else {
          val rs = reps.flatten
          val mnRow = org.apache.spark.sql.catalyst.InternalRow.fromSeq(rs.map(_._1))
          val mxRow = org.apache.spark.sql.catalyst.InternalRow.fromSeq(rs.map(_._2))
          if (!evalChecks.forall(c => c.eval(mnRow) == c.eval(mxRow))) None
          else Some((f, evalPred.eval(mnRow)))
        }
      }
    }
    if (decided.exists(_.isEmpty)) None
    else Some(decided.flatten.collect { case (f, true) => f })
  }

  /** What the scan builder claimed: tier 1, else tier 2. */
  def claim(schema: StructType, spec: Seq[PartitionFieldSpec], files: Seq[DataFile],
      filters: Seq[Expression]): Option[Seq[DataFile]] =
    metaFilteredFiles(schema, spec, files, filters)
      .orElse(rangeClaimFiles(schema, files, filters))
}

/** [[StatsPrune.claim]] against the two tiers it replaced, over seeded
  * random stat sets and predicates, and [[StatValue.decode]] against the
  * stat strings the writers produce. */
class ClaimRuleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val dec = DecimalType(10, 2)
  private val columns: Seq[(String, DataType)] = Seq(
    "ks" -> StringType, "ki" -> IntegerType, "kd" -> DateType,
    "kt" -> TimestampType, "kdec" -> dec, "kdbl" -> DoubleType,
    "nl" -> LongType, "nt" -> TimestampNTZType)
  private val schema = StructType(columns.map { case (n, dt) => StructField(n, dt) })
  private val attrs: Map[String, AttributeReference] =
    columns.map { case (n, dt) => n -> AttributeReference(n, dt)() }.toMap

  private val DayMicros = 86400L * 1000000L

  /** Grid point `x` of a column's domain (tens; negative x is pre-1970 for
    * the temporal types), with `half` moving it between grid points: its
    * canonical stat string and its catalyst literal. */
  private def point(dt: DataType, x: Int, half: Boolean): (String, Any) = dt match {
    case StringType =>
      val s = "k" + ('f' + x).toChar + (if (half) "m" else "")
      (s, UTF8String.fromString(s))
    case IntegerType | DateType =>
      val v = x * 10 + (if (half) 5 else 0); (v.toString, v)
    case LongType => val v = x * 10L + (if (half) 5 else 0); (v.toString, v)
    case TimestampType | TimestampNTZType =>
      val v = (x * 10L + (if (half) 5 else 0)) * DayMicros; (v.toString, v)
    case DoubleType => val v = x * 10.0 + (if (half) 5 else 0); (v.toString, v)
    case d: DecimalType =>
      val v = new java.math.BigDecimal(x * 10 + (if (half) 5 else 0)).setScale(d.scale)
      (v.toPlainString, Decimal(v, d.precision, d.scale))
  }

  private def statsFor(r: scala.util.Random, dt: DataType, rows: Long): Option[ColumnStats] = {
    def x = r.nextInt(12) - 5
    r.nextInt(8) match {
      case 0 => None // stat-less
      case 1 => Some(ColumnStats(None, None, Some(rows))) // all-null
      case 2 if rows > 1 => // mixed-null
        val (a, b) = { val u = x; (u, u + r.nextInt(2)) }
        Some(ColumnStats(Some(point(dt, a, false)._1), Some(point(dt, b, false)._1),
          Some(1L + r.nextInt(rows.toInt - 1))))
      case 3 | 4 => // interval, grid-aligned or straddling a half point
        val a = x
        Some(ColumnStats(Some(point(dt, a, false)._1),
          Some(point(dt, a + 1 + r.nextInt(2), r.nextBoolean())._1), Some(0L)))
      case _ => // point
        val s = point(dt, x, r.nextBoolean())._1
        Some(ColumnStats(Some(s), Some(s), Some(0L)))
    }
  }

  private def randomFiles(r: scala.util.Random, used: Seq[String]): Seq[DataFile] =
    (0 until 1 + r.nextInt(6)).map { i =>
      val rows = if (r.nextInt(10) == 0) 0L else 1L + r.nextInt(50)
      val stats = used.flatMap(c => statsFor(r, schema(c).dataType, rows).map(c -> _)).toMap
      DataFile(s"f$i", rows,
        0L, if (rows == 0L && r.nextBoolean())
          stats.map { case (c, _) => c -> ColumnStats(None, None, Some(0L)) } else stats)
    }

  private def randomLiteral(r: scala.util.Random, dt: DataType): Literal =
    if (r.nextInt(12) == 0) Literal(null, dt)
    else Literal(point(dt, r.nextInt(14) - 6, r.nextInt(3) == 0)._2, dt)

  private def leaf(r: scala.util.Random, c: String): Expression = {
    val a = attrs(c)
    val dt = a.dataType
    def lit = randomLiteral(r, dt)
    r.nextInt(11) match {
      case 0 => EqualTo(a, lit)
      case 1 => EqualNullSafe(a, lit)
      case 2 => In(a, Seq.fill(1 + r.nextInt(3))(lit))
      case 3 => if (r.nextBoolean()) LessThan(a, lit) else GreaterThan(lit, a)
      case 4 => LessThanOrEqual(a, lit)
      case 5 => GreaterThan(a, lit)
      case 6 => GreaterThanOrEqual(a, lit)
      case 7 => IsNull(a)
      case 8 => IsNotNull(a)
      case 9 => InSet(a, Seq.fill(1 + r.nextInt(3))(lit.value).filter(_ != null).toSet)
      case _ => // a non-comparison shape
        EqualTo(Upper(Cast(a, StringType, Some("UTC"))), Literal(UTF8String.fromString("KF")))
    }
  }

  private def predicate(r: scala.util.Random, cols: Seq[String], depth: Int): Expression =
    if (depth == 0 || r.nextInt(3) == 0) leaf(r, cols(r.nextInt(cols.size)))
    else r.nextInt(3) match {
      case 0 => And(predicate(r, cols, depth - 1), predicate(r, cols, depth - 1))
      case 1 => Or(predicate(r, cols, depth - 1), predicate(r, cols, depth - 1))
      case _ => Not(predicate(r, cols, depth - 1))
    }

  test("the one claim rule decides and claims what the two tiers did") {
    val r = new scala.util.Random(20261020L)
    var trials, differing, keyedOnly, rangedOnly, refused, zeroRowListed = 0
    val failures = Seq.newBuilder[String]
    (0 until 4000).foreach { _ =>
      val keys = columns.map(_._1).filter(_ => r.nextInt(3) > 0)
      val spec = keys.map(k => PartitionFieldSpec(k, "identity", None, s"${k}_identity"))
      val meta = TableMetadata(2, "t", "/none", schema.json, 1, spec, Map.empty, None, Nil)
      // predicates over identity keys only, non-key columns only, or both
      val all = columns.map(_._1)
      val pool = Some(r.nextInt(3) match {
        case 0 => keys
        case 1 => all.filterNot(keys.contains)
        case _ => all
      }).filter(_.nonEmpty).getOrElse(all)
      val cols = Seq.fill(1 + r.nextInt(2))(pool(r.nextInt(pool.size))).distinct
      val files = randomFiles(r, cols)
      val filters = Seq.fill(1 + r.nextInt(2))(predicate(r, cols, 2))
      val want = ClaimReference.claim(schema, spec, files, filters)
      val got = StatsPrune.claim(meta, files, filters)
      trials += 1
      val t1 = ClaimReference.metaFilteredFiles(schema, spec, files, filters).isDefined
      val t2 = ClaimReference.rangeClaimFiles(schema, files, filters).isDefined
      if (t1 && !t2) keyedOnly += 1
      if (t2 && !t1) rangedOnly += 1
      if (want.isEmpty) refused += 1
      if (want.exists(_.exists(_.rowCount == 0))) zeroRowListed += 1
      // a zero-row file holds no row, so whether a claim lists it is
      // invisible; the rule never does, where tier 1 listed it when its
      // key satisfied the predicate
      val same = (want, got) match {
        case (None, None) => true
        case (Some(w), Some(g)) =>
          w.filter(_.rowCount > 0).map(_.path) == g.map(_.path) &&
            g.forall(_.rowCount > 0)
        case _ => false
      }
      if (!same) {
        differing += 1
        failures += s"filters=${filters.mkString(" AND ")} keys=$keys\n" +
          s"  files=${files.mkString("\n        ")}\n" +
          s"  reference=${want.map(_.map(_.path))} rule=${got.map(_.map(_.path))}"
      }
    }
    info(s"$trials trials: $keyedOnly claimed by tier 1 only, $rangedOnly by tier 2 " +
      s"only, $refused refused, $differing differing; $zeroRowListed reference " +
      "claims listed a zero-row file")
    assert(differing == 0, failures.result().take(3).mkString("\n"))
    assert(keyedOnly > 100 && rangedOnly > 100 && refused > 100,
      "the generator must reach each tier and refusals")
  }

  test("decode reads back what FooterStats and FileStatsFold write, pre-1970 values too") {
    val d = DecimalType(12, 3)
    val types: Seq[(String, DataType)] = Seq("b" -> ByteType, "sh" -> ShortType,
      "i" -> IntegerType, "l" -> LongType, "f" -> FloatType, "db" -> DoubleType,
      "dec" -> d, "s" -> StringType, "dt" -> DateType, "ts" -> TimestampType,
      "ntz" -> TimestampNTZType)
    val st = StructType(types.map { case (n, t) => StructField(n, t) })
    val rows = Seq(
      Row(-3.toByte, -300.toShort, -70000, -5000000000L, -1.25f, -2.5e10,
        new java.math.BigDecimal("-123.456"), "alpha", LocalDate.of(1969, 12, 31),
        Instant.parse("1969-12-31T23:59:59.999999Z"),
        LocalDateTime.parse("1950-06-15T12:34:56.789012")),
      Row(7.toByte, 12.toShort, 42, 1L, 0.1f, 3.75, new java.math.BigDecimal("9.5"),
        "beta", LocalDate.of(1900, 1, 1), Instant.parse("1950-06-15T12:34:56.789012Z"),
        LocalDateTime.parse("2026-01-01T00:00:00")),
      Row(100.toByte, 30000.toShort, 2000000000, 9000000000000L, 3.5e20f, 1e-7,
        new java.math.BigDecimal("0.001"), "gamma", LocalDate.of(2026, 10, 20),
        Instant.parse("2026-10-20T08:00:00Z"), LocalDateTime.parse("1969-12-31T23:59:59.5")))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
    def catalyst(c: String): Seq[Any] = {
      val conv = CatalystTypeConverters.createToCatalystConverter(st(c).dataType)
      rows.map(row => conv(row.get(st.fieldIndex(c))))
    }
    def ordered(c: String): Seq[Any] = {
      val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(st(c).dataType)
      catalyst(c).sortWith(ord.lt)
    }
    val dir = Files.createTempDirectory("graft-claim-rt-")

    // footer stats: one file holding all three rows
    val Seq(one) = graft.write.Stager.stage(df.coalesce(1), dir, "footer")
    types.foreach { case (c, t) =>
      val cs = one.stats(c)
      assert(StatValue.decode(t, cs.min.get).contains(ordered(c).head), s"$c min ${cs.min}")
      assert(StatValue.decode(t, cs.max.get).contains(ordered(c).last), s"$c max ${cs.max}")
      assert(StatValue.of(one, c, t) == StatValue.Interval(ordered(c).head, ordered(c).last), c)
    }

    // folded stats: identity-partition values and a day transform, one
    // file per row, so every file is a point on each
    val keyed = Seq("i", "l", "db", "dec", "s", "dt", "ts", "ntz")
    val spec = keyed.map(k => PartitionFieldSpec(k, "identity", None, s"${k}_identity")) :+
      PartitionFieldSpec("ts", "day", None, "ts_day")
    val files = graft.write.Stager.stage(df, dir, "folded", spec = spec)
    assert(files.size == rows.size)
    files.foreach { f =>
      val StatValue.Point(iv) = StatValue.of(f, "i", IntegerType)
      val row = catalyst("i").indexOf(iv)
      keyed.foreach { k =>
        val t = st(k).dataType
        assert(StatValue.of(f, s"${k}_identity", t) == StatValue.Point(catalyst(k)(row)),
          s"$k folded ${f.stats(s"${k}_identity")}")
        assert(StatValue.of(f, k, t) == StatValue.Point(catalyst(k)(row)), s"$k footer")
      }
      val micros = catalyst("ts")(row).asInstanceOf[Long]
      assert(StatValue.of(f, "ts_day", DateType) ==
        StatValue.Point(Math.floorDiv(micros, DayMicros).toInt), f.stats("ts_day"))
    }
    // an all-null column reads as all-null
    val nulls = spark.createDataFrame(java.util.Arrays.asList(Row(null, 1), Row(null, 2)),
      StructType(Seq(StructField("n", DateType), StructField("x", IntegerType))))
    val Seq(nf) = graft.write.Stager.stage(nulls.coalesce(1), dir, "nulls")
    assert(StatValue.of(nf, "n", DateType) == StatValue.AllNull)
    assert(StatValue.of(nf, "missing", DateType) == StatValue.Unknown)
  }
}
