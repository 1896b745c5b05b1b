package graft.functions

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, ListAgg, Percentile}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.variant.{SchemaOfVariant, VariantGet}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The dialect's function surface as Catalyst: the type-dispatched
  * reference-parity expressions below, and [[VeloExprs.dialectFunctions]]
  * — one builder per dialect function, registered by
  * [[GraftKernels.registerSqlFunctions]] and called by the
  * [[VeloFunctions]] Column API, so the two spellings share one
  * definition.
  *
  * The reference evaluator dispatches several functions on the RUNTIME
  * type of the value (src/velostream/sql/execution/expression/
  * functions.rs): ROUND goes through f64 multiply-round-divide for
  * floats but leaves integers untouched; ARRAY_LENGTH / MAP_KEYS /
  * ARRAY_CONTAINS accept a JSON STRING and operate on the parsed value.
  * Spark resolves types statically, so the same dispatch happens once at
  * analysis: each expression here is RuntimeReplaceable and picks its
  * replacement from the resolved child type — the replacement is always
  * built-in, codegen'd operators, never an interpreted shim.
  */
object VeloExprs {

  /** ROUND — functions.rs:424. A NULL precision reads NULL for EVERY
    * input type (the reference evaluates precision before the value
    * match); floats round through f64 `(f * 10^p).round() / 10^p`
    * (NOT exact-decimal HALF_UP: the reference reads the BINARY value,
    * so ROUND(1.005, 2) = 1.0 — ×100 is 100.49999999999999 — where
    * decimal-exact engines read the shortest form and say 1.01);
    * integers pass through unchanged whatever the precision;
    * ScaledInteger (decimal) keeps its scale. Spark's Round(product, 0)
    * rounds the exact decimal expansion of the f64 product with
    * HALF_UP — identical to Rust `f64::round` on every input, because
    * the product's fraction is exactly representable. */
  case class VeloRound(child: Expression, scaleArg: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child, scaleArg)
    override lazy val replacement: Expression = {
      // a literal NULL precision must short-circuit at plan time:
      // Spark's Round demands a foldable non-null scale, so the arm
      // below would otherwise fail analysis instead of reading NULL
      val scaleIsNullLit = scaleArg.foldable && scaleArg.eval(null) == null
      if (scaleIsNullLit) Literal.create(null, child.dataType)
      else child.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          If(IsNull(scaleArg), Literal.create(null, child.dataType), child)
        case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
          // the reference's ScaledInteger arm (functions.rs:452-463)
          // divides the UNSCALED i64 by 10^(scale-p) through f64,
          // rounds half away from zero, multiplies back in INTEGER
          // space, and KEEPS the declared scale (p >= scale is a
          // no-op). Neither of the former arms matched: exact-decimal
          // HALF_UP rescaled to p (reads 1.01 where the reference
          // keeps 1.010) and the full-value f64 multiply inherited the
          // double's representation error — 1.005@3 is the exact
          // integer 1005 there, and 1005/10 = 100.5 rounds UP where
          // 1.005*100 = 100.4999… rounded down; the foldable and
          // per-record arms also disagreed with each other (r16
          // review). One lowering for both now.
          val pI = Cast(scaleArg, IntegerType)
          val divD = Pow(Literal(10.0), Cast(Subtract(Literal(dt.scale), pI), DoubleType))
          val rounded = Cast(Round(
            Divide(Cast(UnscaledValue(child), DoubleType), divD), Literal(0)), LongType)
          // boundary round-up gains one digit — ROUND(9.99@(3,2), 0)
          // rebuilds unscaled 1000, which MakeDecimal at the declared
          // precision nulls out where the reference's i64 (which has no
          // precision to overflow) reads 10.00 — so the result widens
          // one digit (value parity over type parity; r16 advice).
          // outP ≤ 19 still long-backed-constructible.
          val outDt = DecimalType(dt.precision + 1, dt.scale)
          // 10^k is exact in f64 for k ≤ 18, so the Long cast is exact
          // on the rebuilt arm (the zero arm below keeps k ≥ 19 — where
          // the cast WOULD saturate — out of it); the multiply stays
          // within one digit of the original unscaled magnitude
          val rebuilt = MakeDecimal(Multiply(rounded, Cast(divD, LongType)),
            outDt.precision, outDt.scale)
          // scale - p ≥ 19 ⇒ divisor ≥ 10×10^18 > 2×|unscaled| for any
          // precision ≤ 18 value, so the quotient rounds to exactly 0
          // (the reference's 10i64.pow overflows there — soft landing)
          val zero = MakeDecimal(Literal(0L), outDt.precision, outDt.scale)
          If(IsNull(scaleArg), Literal.create(null, outDt),
            If(GreaterThanOrEqual(pI, Literal(dt.scale)), Cast(child, outDt),
              If(LessThanOrEqual(pI, Literal(dt.scale - 19)), zero, rebuilt)))
        case dt: DecimalType =>
          // precision > 18: no long-backed unscaled value exists (the
          // reference's ScaledInteger is i64-backed, so such a column
          // has no reference counterpart) — full-value f64 path, outer
          // cast restores the declared scale
          val m = Pow(Literal(10.0), Cast(scaleArg, DoubleType))
          Cast(Divide(Round(Multiply(Cast(child, DoubleType), m), Literal(0)), m), dt)
        case _ =>
          val m = Pow(Literal(10.0), Cast(scaleArg, DoubleType))
          Divide(Round(Multiply(Cast(child, DoubleType), m), Literal(0)), m)
      }
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0), scaleArg = c(1))
  }

  /** ARRAY_LENGTH — functions.rs:1388. A string argument is parsed as a
    * JSON array and its length returned (streaming payloads are JSON
    * text); NULL → NULL. Spark's size() would reject the string at
    * analysis. Non-array JSON reads NULL here where the reference
    * errors — a soft landing for the same misuse. */
  case class VeloArrayLength(child: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child)
    override lazy val replacement: Expression = child.dataType match {
      case _: StringType => LengthOfJsonArray(child)
      case _ => Size(child, legacySizeOfNull = false)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0))
  }

  /** MAP_KEYS — functions.rs:1722. Maps and structs yield their keys /
    * field names; a string argument is parsed as a JSON object and its
    * keys returned. */
  case class VeloMapKeys(child: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child)
    override lazy val replacement: Expression = child.dataType match {
      case _: MapType => MapKeys(child)
      case st: StructType =>
        If(IsNull(child),
          Literal.create(null, ArrayType(StringType, containsNull = false)),
          CreateArray(st.fieldNames.toSeq.map(Literal(_))))
      case _: StringType => JsonObjectKeys(child)
      case _ => MapKeys(child) // let analysis report the type error
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0))
  }

  /** ARRAY_CONTAINS — functions.rs:1611 with values_equal:1679 semantics.
    * Element comparison is NULL-SAFE (`values_equal(Null, Null)` is
    * true, so searching NULL finds a null element) and an array that
    * lacks the value reads FALSE even when it contains nulls — Spark's
    * array_contains returns NULL for both. A string argument is parsed
    * as a JSON array; elements compare by JSON type (String("1") never
    * equals Integer(1), but Integer and Float cross-compare). */
  case class VeloArrayContains(child: Expression, value: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child, value)
    // the analyzer never visits a RuntimeReplaceable's replacement, so
    // the lambda must be PRE-BOUND: a resolved NamedLambdaVariable of
    // the array's element type, not an UnresolvedNamedLambdaVariable
    private def boundExists(arr: Expression, body: Expression => Expression): Expression = {
      val (et, cn) = arr.dataType match {
        case ArrayType(e, c) => (e, c)
        case other => (other, true)
      }
      val x = NamedLambdaVariable("velo_ac_x", et, cn)
      ArrayExists(arr, LambdaFunction(body(x), Seq(x)), false)
    }
    override lazy val replacement: Expression = child.dataType match {
      case _: StringType =>
        // parse as JSON array of variants; gate each element on its JSON
        // type so "1" (STRING) never matches 1 (BIGINT), like values_equal
        // timeZoneId must be pre-filled: the analyzer's ResolveTimeZone
        // never visits a RuntimeReplaceable's replacement either
        val parsed = JsonToStructs(ArrayType(VariantType), Map.empty[String, String], child,
          Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        // plain Cast never resolves FROM variant — extraction goes
        // through VariantGet with the identity path, like Spark's own
        // cast-of-variant lowering (failOnError=false → NULL on
        // type mismatch, which the schema gate already excludes)
        def vget(x: Expression, dt: DataType): Expression =
          new VariantGet(x, Literal("$"), dt, false,
            Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        val basePred: Expression => Expression = value.dataType match {
          case _: StringType => x =>
            And(EqualTo(SchemaOfVariant(x), Literal("STRING")),
              EqualTo(vget(x, StringType), value))
          case _: NumericType => x =>
            // variant types non-exponent JSON decimals ('[2.5]') as
            // DECIMAL(p,s), not DOUBLE — the numeric gate must admit all
            // three or ARRAY_CONTAINS('[2.5]', 2.5) silently reads false
            val sv = SchemaOfVariant(x)
            val floatish = Or(EqualTo(sv, Literal("DOUBLE")),
              StartsWith(sv, Literal("DECIMAL")))
            // absolute-epsilon, not exact f64 equality: values_equal's
            // Float arm is |a-b| < f64::EPSILON (functions.rs:1685), so
            // ARRAY_CONTAINS('[0.30000000000000004]', 0.1+0.2) is TRUE
            // in the reference; exact EqualTo read false (r16 review)
            val dblEq = LessThan(
              Abs(Subtract(vget(x, DoubleType), Cast(value, DoubleType))),
              Literal(2.220446049250313e-16))
            value.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                // values_equal compares Integer==Integer as exact i64;
                // only the Integer-vs-Float cross-compare goes through f64
                Or(And(EqualTo(sv, Literal("BIGINT")),
                    EqualTo(vget(x, LongType), Cast(value, LongType))),
                  And(floatish, dblEq))
              case _ =>
                And(Or(EqualTo(sv, Literal("BIGINT")), floatish), dblEq)
            }
          case _: BooleanType => x =>
            And(EqualTo(SchemaOfVariant(x), Literal("BOOLEAN")),
              EqualTo(vget(x, BooleanType), value))
          case _: NullType => x => EqualTo(SchemaOfVariant(x), Literal("VOID"))
          case _ => _ => Literal(false)
        }
        // a RUNTIME null search value (nullable column holding NULL)
        // must find a JSON null element — values_equal(Null, Null) is
        // true — but the typed arms above evaluate EqualTo(…, NULL) →
        // NULL, which ArrayExists collapses to false; only the
        // statically-typed NULL literal took the VOID arm (r16 review)
        val pred: Expression => Expression =
          if (value.dataType == NullType || !value.nullable) basePred
          else x => If(IsNull(value),
            EqualTo(SchemaOfVariant(x), Literal("VOID")), basePred(x))
        boundExists(parsed, pred)
      case _ =>
        // the native-array arm mirrors values_equal's kind dispatch too:
        // a bare EqualNullSafe(element, value) had NO type
        // reconciliation — the analyzer never coerces inside a
        // RuntimeReplaceable replacement (the VeloNullIf rule), so
        // ARRAY_CONTAINS(double_arr, 2) died with a datatype-mismatch
        // internal error where the reference cross-compares Integer and
        // Float via f64 (r16 review)
        def integralT(dt: DataType): Boolean = dt match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        def floatyT(dt: DataType): Boolean = dt == FloatType || dt == DoubleType
        val et = child.dataType match {
          case ArrayType(e, _) => e
          case other => other
        }
        val vt = value.dataType
        def bothNull(x: Expression): Expression = And(IsNull(x), IsNull(value))
        // CODEGEN FAST PATH (r17: the lambda arm cost q36 ~70% at
        // sf0.1 — higher-order ArrayExists sits outside whole-stage
        // codegen). When the search value can never be null at runtime
        // and compares EXACTLY (same atomic type, no epsilon float
        // rule), the reference semantics reduce to builtins:
        // null array → NULL; found → TRUE; not found → FALSE even with
        // null elements (coalesce absorbs array_contains' null-element
        // NULL). values_equal(Null, Null)=true is unreachable with a
        // non-nullable value, and same-type exact equality is Spark's
        // own — so this arm is bit-identical to the lambda arm below.
        def exactAtomic(dt: DataType): Boolean = dt match {
          case _: StringType | BooleanType | ByteType | ShortType | IntegerType
               | LongType | DateType | TimestampType | BinaryType => true
          case _: DecimalType => true
          case _ => false // floats keep the epsilon rule — lambda arm
        }
        if (!value.nullable && et == vt && exactAtomic(et))
          If(IsNull(child), Literal.create(null, BooleanType),
            Coalesce(Seq(ArrayContains(child, value), Literal(false))))
        else {
        val pred: Expression => Expression =
          if (vt == NullType) x => IsNull(x)
          else if (integralT(et) && integralT(vt))
            x => EqualNullSafe(Cast(x, LongType), Cast(value, LongType))
          else if ((integralT(et) || floatyT(et)) && (integralT(vt) || floatyT(vt)))
            // the values_equal float arm: absolute-epsilon, Null==Null
            x => Or(bothNull(x),
              And(And(IsNotNull(x), IsNotNull(value)),
                LessThan(Abs(Subtract(Cast(x, DoubleType), Cast(value, DoubleType))),
                  Literal(2.220446049250313e-16))))
          else if (VeloNullIf.sameIgnoreNull(et, vt))
            // same kind (strings, booleans, matching complex types):
            // null-safe exact equality; the cast reconciles the
            // nullability flags EqualNullSafe insists on
            x => EqualNullSafe(x, Cast(value, et))
          else
            // kind mismatch: values_equal says false — except the
            // Null==Null pairing, which runtime nulls can still hit
            x => bothNull(x)
        boundExists(child, pred)
        }
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0), value = c(1))
  }

  /** MAP key lowering (functions.rs:1369-1379): keys must be STRINGS or
    * INTEGERS — integer keys stringify (every reference map is
    * string-keyed), any other key type is an error. The reference
    * raises it per record at run time; here the same rejection surfaces
    * once at analysis, before anything executes. */
  case class VeloMapKey(child: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child)
    private def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case _: StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case dt if integral(dt) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"MAP keys must be strings or integers, got ${dt.simpleString}")
      }
    override lazy val replacement: Expression = child.dataType match {
      case _: StringType => child
      case _ => Cast(child, StringType)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0))
  }

  /** The reference's value→string rendering, shared by CONCAT
    * (functions.rs:1430), JOIN (functions.rs:1027), STRING_AGG
    * (aggregation/accumulator.rs:294 field_value_to_string) and
    * SET_HEADER (functions.rs:2599): Rust `Display` formatting. For
    * floats that means the shortest round-trip decimal in POSITIONAL
    * notation with no forced fraction — "100", "101.5",
    * "1000000000000000000000" — where Spark's cast renders "100.0" and
    * "1.0E21". Strings pass through; integers, booleans and timestamps
    * already render identically through cast. */
  case class VeloStr(child: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child)
    override lazy val replacement: Expression = child.dataType match {
      case _: StringType => child
      case DoubleType | FloatType =>
        StaticInvoke(GraftKernels.getClass, StringType, "rustDouble",
          Seq(Cast(child, DoubleType)), inputTypes = Seq(DoubleType),
          propagateNull = true, returnNullable = false)
      case _ => Cast(child, StringType)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0))
  }

  /** JOIN's delimiter — functions.rs:1011-1019: the reference REQUIRES
    * a String delimiter ("JOIN delimiter must be a string") and a NULL
    * FieldValue is not a String, so both a non-string-typed delimiter
    * and a null delimiter value are errors there — not a silent cast
    * (which rendered e.g. a double 1e21 delimiter differently from the
    * same value in a value slot) and not a swallowed-to-NULL result
    * (ConcatWs nulls the whole row on a null delimiter; r13 review).
    * The type error surfaces at plan time; the null error per value. */
  case class VeloJoinDelim(child: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(child)
    override lazy val replacement: Expression = child.dataType match {
      case _: StringType =>
        // propagateNull = false: a NULL delimiter must reach the kernel
        // and throw the reference's error, not skip the call
        StaticInvoke(GraftKernels.getClass, StringType, "joinDelim",
          Seq(child), inputTypes = Seq(StringType),
          propagateNull = false, returnNullable = false)
      case other => throw new IllegalArgumentException(
        s"JOIN delimiter must be a string, got ${other.simpleString}")
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(child = c(0))
  }

  /** NULLIF — functions.rs:1768 through values_equal:1679. values_equal
    * has arms ONLY for String / Integer / Float / Boolean (plus the
    * Integer×Float cross-compare) and Array/Struct recursion; every
    * other pairing — Timestamp==Timestamp, Date==Date, Decimal==Decimal,
    * string-vs-number — falls to `_ => false`, so NULLIF on those NEVER
    * yields NULL: the left value passes through untouched. Float
    * equality is `|a-b| < f64::EPSILON` (2.22e-16, ABSOLUTE), so
    * NULLIF(0.1+0.2, 0.3) IS NULL in the reference where decimal-exact
    * engines keep the value. Maps: values_equal recurses, but Spark
    * cannot compare MapType with `=` — lowered as passthrough (the one
    * knowingly-divergent arm, unreachable from the dialect's sources). */
  case class VeloNullIf(left: Expression, right: Expression)
      extends Expression with RuntimeReplaceable {
    override def children: Seq[Expression] = Seq(left, right)
    private def ifEq(cond: Expression): Expression =
      If(cond, Literal.create(null, left.dataType), left)
    private def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    private def floaty(dt: DataType): Boolean =
      dt == FloatType || dt == DoubleType
    // the analyzer never type-coerces inside a RuntimeReplaceable's
    // replacement, so mixed-width compares must be cast explicitly
    override lazy val replacement: Expression = (left.dataType, right.dataType) match {
      case (l, r) if integral(l) && integral(r) =>
        ifEq(EqualTo(Cast(left, LongType), Cast(right, LongType)))
      case (l, r) if (integral(l) || floaty(l)) && (integral(r) || floaty(r)) =>
        ifEq(LessThan(
          Abs(Subtract(Cast(left, DoubleType), Cast(right, DoubleType))),
          Literal(2.220446049250313e-16)))
      case (_: StringType, _: StringType) => ifEq(EqualTo(left, right))
      case (BooleanType, BooleanType) => ifEq(EqualTo(left, right))
      case (l: ArrayType, r: ArrayType) if floaty(l.elementType) && floaty(r.elementType) =>
        // values_equal recurses element-wise (functions.rs:1690-1700):
        // float ELEMENTS use the same absolute-epsilon compare as
        // top-level floats, Null==Null is true (functions.rs:1681),
        // and a length mismatch is false — so [0.1+0.2] vs [0.3] IS
        // equal (→ NULL) where exact array equality would keep it.
        // Guard on ELEMENT kind only: an exact-DataType guard silently
        // missed the common column-vs-literal pairing (containsNull
        // true vs false) and fell to the never-NULL passthrough
        // (r12 review). Built by hand as resolved lambdas:
        // RuntimeReplaceable replacements materialize after
        // lambda-variable resolution.
        val a = NamedLambdaVariable("a", l.elementType, nullable = true)
        val b = NamedLambdaVariable("b", r.elementType, nullable = true)
        val pairEq = Or(
          And(IsNull(a), IsNull(b)),
          And(And(IsNotNull(a), IsNotNull(b)),
            LessThan(Abs(Subtract(Cast(a, DoubleType), Cast(b, DoubleType))),
              Literal(2.220446049250313e-16))))
        val x = NamedLambdaVariable("x", BooleanType, nullable = false)
        val allEq = ArrayForAll(
          ZipWith(left, right, LambdaFunction(pairEq, Seq(a, b))),
          LambdaFunction(x, Seq(x)))
        // Size equality first: zip_with pads the shorter array with
        // nulls, and a padded null against a null ELEMENT would read
        // equal despite the length mismatch
        ifEq(And(EqualTo(Size(left), Size(right)), allEq))
      // nullability-blind comparison instead of ==: a nullable column
      // vs a non-null literal is the same comparison in the reference;
      // differing struct FIELD NAMES stay in the passthrough arm —
      // the reference's HashMap equality needs matching keys anyway.
      // The cast reconciles the nullability flags EqualTo insists on.
      case (l: ArrayType, r: ArrayType) if VeloNullIf.sameIgnoreNull(l, r) =>
        ifEq(EqualTo(left, Cast(right, l)))
      case (l: StructType, r: StructType) if VeloNullIf.sameIgnoreNull(l, r) =>
        ifEq(EqualTo(left, Cast(right, l)))
      case _ => left // no values_equal arm: never NULL
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(left = c(0), right = c(1))
  }

  object VeloNullIf {
    /** Structural type equality ignoring nullability flags but keeping
      * struct field NAMES (Spark's sameType is private; its public
      * equalsStructurally ignores names, which the HashMap-keyed
      * reference semantics must not). */
    private[VeloExprs] def sameIgnoreNull(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: ArrayType, y: ArrayType) => sameIgnoreNull(x.elementType, y.elementType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameIgnoreNull(f.dataType, g.dataType) }
      case (x: MapType, y: MapType) =>
        sameIgnoreNull(x.keyType, y.keyType) && sameIgnoreNull(x.valueType, y.valueType)
      case (x, y) => x == y
    }
  }


  // ======================= dialect functions =======================

  /** One dialect function: the names the dialect accepts, the accepted
    * argument counts, and the ONE builder both spellings run. The parser
    * renames a call to `veloName` and checks the arity at parse time;
    * the registry registers `build` under `veloName`; the VeloFunctions
    * twin calls the same builder. `veloName` is `velo_` plus the first
    * name, so it never collides with a built-in: the session registry
    * is shared with Spark's built-ins, and a builder registered as
    * `concat` or `extract` would replace Spark's own for the whole
    * session, Column API included. */
  final case class DialectFn(names: Seq[String], minArgs: Int, maxArgs: Int)(
      val build: Seq[Expression] => Expression) {
    val veloName: String = "velo_" + names.head.toLowerCase(java.util.Locale.ROOT)

    /** The arity error for `n` arguments, named by the spelling used. */
    def arityError(name: String, n: Int): Option[String] =
      if (n >= minArgs && n <= maxArgs) None
      else {
        val want =
          if (minArgs == maxArgs) s"$minArgs"
          else if (maxArgs == Int.MaxValue) s"at least $minArgs"
          else s"$minArgs to $maxArgs"
        Some(s"$name expects $want argument(s), got $n")
      }
  }

  private val Many = Int.MaxValue
  /** The `_headers` map<string,string> column the header functions read
    * when called from SQL (the Column API passes its own). */
  private def headers: Expression = UnresolvedAttribute("_headers")

  val dialectFunctions: Seq[DialectFn] = Seq(
    // ---- string ----
    DialectFn(Seq("CONCAT"), 0, Many)(concat),
    DialectFn(Seq("JOIN"), 2, Many)(a => join(a.head, a.tail)),
    DialectFn(Seq("SPLIT"), 2, 2)(a => split(a(0), a(1))),
    DialectFn(Seq("LENGTH", "LEN"), 1, 1)(a => length(a(0))),
    DialectFn(Seq("TRIM"), 1, 1)(a => trim(a(0), GraftKernels.TrimBothPat)),
    DialectFn(Seq("LTRIM"), 1, 1)(a => trim(a(0), GraftKernels.TrimLeftPat)),
    DialectFn(Seq("RTRIM"), 1, 1)(a => trim(a(0), GraftKernels.TrimRightPat)),
    DialectFn(Seq("POSITION"), 2, 3)(a => position(a(0), a(1), a.lift(2))),
    DialectFn(Seq("REGEXP"), 2, 2)(a => regexp(a(0), a(1))),
    DialectFn(Seq("REGEXP_REPLACE"), 3, 4)(a =>
      regexpReplace(a(0), a(1), a(2), a.lift(3))),
    // ---- math / conditional ----
    DialectFn(Seq("ROUND"), 1, 2)(a => VeloRound(a(0), a.lift(1).getOrElse(Literal(0)))),
    DialectFn(Seq("NULLIF"), 2, 2)(a => VeloNullIf(a(0), a(1))),
    // ---- aggregates ----
    DialectFn(Seq("STRING_AGG", "GROUP_CONCAT", "LISTAGG", "COLLECT"), 1, 2)(a =>
      stringAgg(a(0), a.lift(1))),
    DialectFn(Seq("COUNT_DISTINCT"), 1, Many)(countDistinct),
    DialectFn(Seq("DELTA"), 1, 1)(a => delta(a(0))),
    DialectFn(Seq("PERCENTILE_CONT"), 2, 2)(a => new Percentile(a(0), a(1))),
    DialectFn(Seq("PERCENTILE_DISC"), 2, 2)(a => percentileDisc(a(0), a(1))),
    // ---- date / time ----
    DialectFn(Seq("TIMESTAMP", "NOW"), 0, 1)(a => timestamp(a.headOption)),
    DialectFn(Seq("UNIX_TIMESTAMP"), 0, 1)(a =>
      a.headOption.fold(fn("unix_timestamp"))(epochSeconds)),
    DialectFn(Seq("FROM_UNIXTIME"), 1, 1)(a => fromUnixtime(a(0))),
    DialectFn(Seq("EXTRACT"), 2, 2)(a => extract(literalArg("EXTRACT field", a(0)), a(1))),
    DialectFn(Seq("DATEDIFF"), 3, 3)(a =>
      dateDiffUnit(literalArg("DATEDIFF unit", a(0)), a(1), a(2))),
    DialectFn(Seq("DATE_FORMAT"), 2, 2)(a => dateFormat(a(0), a(1))),
    // (ts, step seconds): the parser's TUMBLE_START/END arm parses the
    // duration, supplies the default time column and MIN-wraps the call
    // inside a windowed aggregation before calling these rows
    DialectFn(Seq("TUMBLE_START"), 2, 2)(a => epochBucket(a(0), a(1))),
    DialectFn(Seq("TUMBLE_END"), 2, 2)(a => epochBucket(a(0), a(1), end = true)),
    // ---- JSON ----
    DialectFn(Seq("JSON_VALUE", "JSON_EXTRACT"), 2, 2)(a => jsonValue(a(0), a(1))),
    DialectFn(Seq("JSON_EXISTS"), 2, 2)(a => jsonExists(a(0), a(1))),
    DialectFn(Seq("JSON_QUERY"), 2, 2)(a => jsonQuery(a(0), a(1))),
    // ---- array / map / struct ----
    DialectFn(Seq("ARRAY_LENGTH"), 1, 1)(a => VeloArrayLength(a(0))),
    DialectFn(Seq("ARRAY_CONTAINS"), 2, 2)(a => VeloArrayContains(a(0), a(1))),
    DialectFn(Seq("MAP_KEYS"), 1, 1)(a => VeloMapKeys(a(0))),
    DialectFn(Seq("MAP"), 0, Many)(map),
    DialectFn(Seq("STRUCT"), 0, Many)(struct),
    // ---- headers (over the `_headers` column) ----
    DialectFn(Seq("HEADER"), 1, 1)(a => header(headers, a(0))),
    DialectFn(Seq("HAS_HEADER"), 1, 1)(a => hasHeader(headers, a(0))),
    // a comma-joined STRING in SQL — functions.rs:375 `keys.join(",")`
    // (headers_test.rs asserts the joined form). The Column API's
    // headerKeys keeps the array: the one intended difference between
    // the two spellings. The reference iterates a HashMap (arbitrary
    // order); map insertion order here is deterministic.
    DialectFn(Seq("HEADER_KEYS"), 0, 0)(_ =>
      fn("array_join", headerKeys(headers), Literal(","))),
    DialectFn(Seq("SET_HEADER"), 2, 2)(a => setHeader(headers, a(0), a(1))),
    DialectFn(Seq("REMOVE_HEADER"), 1, 1)(a => removeHeader(headers, a(0))))

  private val byName: Map[String, DialectFn] =
    dialectFunctions.flatMap(f => f.names.map(_ -> f)).toMap

  /** The row for a dialect function name, case-insensitively. */
  def dialectFunction(name: String): Option[DialectFn] =
    byName.get(name.toUpperCase(java.util.Locale.ROOT))

  // ---- tree helpers: the nodes Spark's SQL parser builds for the same
  //      call written as Spark SQL, so a builder's tree analyzes to the
  //      same plan and the same generated column names ----

  /** `name(args)` as SQL text: resolved through the session registry. */
  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  /** `CAST(e AS dt)` as SQL text writes it: user-specified, so it keeps
    * its place in generated column names. */
  private def cast(e: Expression, dt: DataType): Expression = {
    val c = Cast(e, dt)
    c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    c
  }

  private object StrLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, _: StringType) => Some(s.toString)
      case _ => None
    }
  }

  /** Arguments that select the lowering (DATEDIFF's unit, EXTRACT's
    * field) must be string literals: the plan is built per call, not per
    * row. */
  private def literalArg(what: String, e: Expression): String = e match {
    case StrLit(s) => s
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got ${other.sql}")
  }

  // ---- string ----

  /** CONCAT skips NULL arguments and stringifies non-strings
    * (functions.rs:1419 `FieldValue::Null => {}`) — Spark's concat NULLs
    * the whole result on any NULL argument; concat_ws with an empty
    * separator has the skip-NULLs semantics. The stringification is the
    * reference rendering (VeloStr): floats as Rust Display — "100", not
    * cast's "100.0". */
  def concat(args: Seq[Expression]): Expression =
    fn("concat_ws", Literal("") +: args.map(VeloStr): _*)

  /** JOIN(delim, v1, v2, …) — the reference's variadic scalar join
    * (functions.rs join_function): delimiter first and strict (see
    * VeloJoinDelim), values stringified through the reference rendering
    * (functions.rs:1027 f.to_string()), NULL VALUES rendered as the
    * literal 'NULL' (concat_ws alone would skip them). */
  def join(delim: Expression, values: Seq[Expression]): Expression =
    ConcatWs(VeloJoinDelim(delim) +: values.map(v => Coalesce(Seq(VeloStr(v), Literal("NULL")))))

  /** SPLIT(str, delim) returns the FIRST part as a string — the
    * reference's behavior (functions.rs split_function: 'Return first
    * part for simplicity'). */
  def split(s: Expression, delim: Expression): Expression = SubstringIndex(s, delim, Literal(1))

  /** LENGTH/LEN are BYTE length in the reference (s.len() over UTF-8,
    * functions.rs:915) — 'héllo' is 6; Spark's length counts chars. */
  def length(s: Expression): Expression = fn("octet_length", s)

  /** TRIM family strips ALL Unicode whitespace like Rust str::trim
    * (functions.rs:740), through the (?U) patterns in GraftKernels. */
  def trim(s: Expression, pattern: String): Expression =
    RegExpReplace(s, Literal(pattern), Literal(""))

  /** POSITION is BYTE-based in the reference (str::find over UTF-8
    * bytes — functions.rs:2489; the optional start is a byte offset,
    * clamped to >= 1, NULL start → NULL). A latin1 round-trip makes
    * chars == bytes, so the codegen'd StringLocate does the byte math; a
    * valid-UTF-8 needle can only match on char boundaries, so the result
    * is identical to Rust's byte find. 0 when absent. */
  def position(sub: Expression, s: Expression, start: Option[Expression]): Expression = {
    def lat1(e: Expression): Expression =
      new StringDecode(new Encode(e, Literal("UTF-8")), Literal("ISO-8859-1"))
    val from = start.fold[Expression](Literal(1))(st => Greatest(Seq(Cast(st, IntegerType), Literal(1))))
    val loc = StringLocate(lat1(sub), lat1(s), from)
    start.fold[Expression](loc)(st => If(IsNull(st), Literal(null, IntegerType), loc))
  }

  /** REGEXP(str, pattern) through the Rust-parity kernel (Unicode
    * classes, (?P<…> spelling, shared pattern cache) — Spark's
    * regexp_like compiles Java defaults (r16 review). */
  def regexp(s: Expression, pattern: Expression): Expression =
    StaticInvoke(GraftKernels.getClass, BooleanType, "veloRegexpLike", Seq(s, pattern),
      inputTypes = Seq(StringType, StringType), propagateNull = true, returnNullable = false)

  /** REGEXP_REPLACE replaces only the FIRST match unless the 'g' flag is
    * passed, and 'i' is case-insensitive (functions.rs:850-868 — Rust
    * Regex::replace vs replace_all); Spark's builtin replaces every
    * match and has no flags. A NULL flags argument reads as no flags
    * (functions.rs:840). */
  def regexpReplace(s: Expression, pattern: Expression, replacement: Expression,
                    flags: Option[Expression]): Expression =
    StaticInvoke(GraftKernels.getClass, StringType, "veloRegexpReplace",
      Seq(s, pattern, replacement, flags.fold[Expression](Literal(""))(f => fn("coalesce", f, Literal("")))),
      inputTypes = Seq.fill(4)(StringType), propagateNull = true, returnNullable = false)

  // ---- aggregates ----

  /** STRING_AGG / GROUP_CONCAT / LISTAGG / COLLECT: ONE aggregate behind
    * four names (aggregation/functions.rs:46), so COLLECT returns a
    * JOINED STRING, not an array. The separator defaults to ','
    * (Spark's one-arg listagg joins with the empty string), and a
    * NON-LITERAL separator also falls back to ',' (the reference reads
    * the literal out of the AST — aggregation/functions.rs:272). Values
    * stringify through the reference rendering (accumulator.rs:294);
    * NULLs are skipped, which listagg does natively. Returned as the
    * aggregate function itself, so `STRING_AGG(DISTINCT v)` keeps its
    * DISTINCT. */
  def stringAgg(value: Expression, sep: Option[Expression]): Expression =
    new ListAgg(VeloStr(value), sep.collect { case s @ StrLit(_) => s }.getOrElse(Literal(",")))

  def countDistinct(args: Seq[Expression]): Expression =
    Count(args).toAggregateExpression(isDistinct = true)

  /** DELTA(x): the max-min spread aggregate (functions.rs:1807). */
  def delta(x: Expression): Expression = Subtract(fn("max", x), fn("min", x))

  /** PERCENTILE_DISC(e, p) — the inverse-distribution aggregate
    * `percentile_disc(p) WITHIN GROUP (ORDER BY e)`: an actual row value,
    * never interpolated. */
  def percentileDisc(e: Expression, p: Expression): Expression =
    UnresolvedFunction(Seq("percentile_disc"), Seq(p), isDistinct = false, filter = None,
      ignoreNulls = false, orderingWithinGroup = Seq(SortOrder(e, Ascending)))

  // ---- date / time ----

  /** Zero-arg TIMESTAMP()/NOW() is the wall clock (functions.rs);
    * TIMESTAMP(x) is a CONVERSION — never the wall clock, which would
    * replace every row's event time. No format form. */
  def timestamp(x: Option[Expression]): Expression =
    x.fold(fn("current_timestamp"))(cast(_, TimestampType))

  /** Epoch seconds through CAST, not unix_timestamp: the reference goes
    * through chrono's timestamp() (functions.rs:1919, 2470), a
    * euclidean FLOOR, and cast-to-long is floorDiv on micros, where
    * unix_timestamp truncates toward zero (a pre-1970 fractional
    * timestamp reads one second apart). The inner TIMESTAMP cast keeps
    * string time columns working; without it '2024-…' casts straight to
    * BIGINT — NULL on every row. */
  def epochSeconds(x: Expression): Expression = cast(cast(x, TimestampType), LongType)

  /** TUMBLE_START/END: the epoch-aligned bucket of `ts`, `step` seconds
    * wide, as epoch seconds — `floor(epochSeconds(ts) / step) * step`,
    * plus one step for the bucket's end. Flooring through
    * [[epochSeconds]] puts a pre-1970 fractional-second event in its
    * own bucket, as the DuckDB oracle does (OracleSql.epochS/bucketS);
    * truncation would place it one window late — and a NUMERIC ts cast
    * straight to BIGINT truncates too (-0.5 → 0), which the TIMESTAMP
    * hop avoids. The one definition of the dialect's TUMBLE_START/END,
    * the Column API's tumbleStart/End and TimeWindows' buckets. */
  def epochBucket(ts: Expression, step: Expression, end: Boolean = false): Expression = {
    val start = Multiply(fn("floor", Divide(epochSeconds(ts), step)), step)
    cast(if (end) Add(start, step) else start, LongType)
  }

  /** FROM_UNIXTIME returns a TIMESTAMP value (functions.rs:2413 — chrono
    * from_timestamp; a float keeps its sub-second precision); Spark's
    * builtin returns a formatted STRING. */
  def fromUnixtime(x: Expression): Expression = fn("timestamp_seconds", x)

  /** EXTRACT(field FROM x) — functions.rs:1910-1927. Fields with a
    * reference-specific meaning lower here; the rest are Spark's own
    * extract:
    *  - EPOCH: floored epoch seconds ([[epochSeconds]]);
    *  - DOW: 0=Sunday (postgres/duckdb convention);
    *  - SECOND: the integer second (INT; `…:44.123` reads 44), the
    *    answer the Column API's veloExtract pins, not the DECIMAL(8,6)
    *    fraction of Spark's own extract;
    *  - MILLISECOND/MICROSECOND/NANOSECOND: the 0-bounded sub-second
    *    FRACTION (timestamp_subsec_*), not the postgres
    *    seconds-inclusive reading — Spark's extract has no such fields.
    *    pmod keeps the fraction non-negative pre-1970, like chrono's
    *    accessors; the TIMESTAMP hop admits string time columns
    *    (unix_millis/unix_micros take no implicit cast). */
  def extract(field: String, x: Expression): Expression = {
    def subsec(unit: String, modulus: Int) =
      fn("pmod", fn(unit, cast(x, TimestampType)), Literal(modulus))
    field.toUpperCase(java.util.Locale.ROOT) match {
      case "EPOCH" => epochSeconds(x)
      case "DOW" => Subtract(fn("dayofweek", x), Literal(1))
      case "SECOND" => fn("second", x)
      case "MILLISECOND" => subsec("unix_millis", 1000)
      case "MICROSECOND" => subsec("unix_micros", 1000000)
      case "NANOSECOND" => Multiply(subsec("unix_micros", 1000000), Literal(1000))
      case f => fn("extract", Literal(f), x)
    }
  }

  /** DATEDIFF(unit, a, b) — the reference EVALUATOR's semantics
    * (functions.rs:1977-2005): calendar-COMPONENT diffs, not elapsed
    * periods. years = year(b)-year(a) (Dec 31 → Jan 1 reads 1, where
    * timestampdiff reads 0); months/quarters likewise ignore
    * day-of-month; weeks = 52·Δ(ISO week-year)+Δ(ISO week); days compares
    * calendar DATES ignoring time-of-day; hours divide raw elapsed
    * millis truncating toward zero (Rust `/`). Docs and demos also use
    * minutes/seconds/milliseconds/micros (the evaluator rejects them —
    * catalog drift): lowered as the natural extension of the hours arm.
    * Plural units strip their 's'; 'ms' is caught first, and a bare 'm'
    * (month or minute by convention) errors like the evaluator. */
  def dateDiffUnit(unit: String, a: Expression, b: Expression): Expression = {
    def big(e: Expression) = cast(e, LongType)
    def diff(f: String) = Subtract(fn(f, b), fn(f, a))
    def elapsed(f: String) = Subtract(fn(f, cast(b, TimestampType)), fn(f, cast(a, TimestampType)))
    // ISO week-based year = year of the Thursday in the row's ISO week;
    // weekday() is Monday=0, so Thursday is +(3-wd)
    def isoWeekYear(e: Expression) = {
      val d = cast(e, DateType)
      fn("year", fn("date_add", d, Subtract(Literal(3), fn("weekday", d))))
    }
    def millisDiv(d: Int) = big(IntegralDivide(elapsed("unix_millis"), Literal(d)))
    val lower = unit.toLowerCase(java.util.Locale.ROOT)
    (if (lower == "ms") "millisecond" else lower.stripSuffix("s")) match {
      case "year" => big(diff("year"))
      case "month" => big(Add(Multiply(diff("year"), Literal(12)), diff("month")))
      case "quarter" => big(Add(Multiply(diff("year"), Literal(4)), diff("quarter")))
      case "week" => big(Add(Multiply(Subtract(isoWeekYear(b), isoWeekYear(a)), Literal(52)),
        diff("weekofyear")))
      case "day" => big(fn("datediff", b, a))
      case "hour" => millisDiv(3600000)
      case "minute" => millisDiv(60000)
      case "second" => millisDiv(1000)
      case "millisecond" | "milli" => millisDiv(1)
      case "u" | "micro" | "microsecond" => big(elapsed("unix_micros"))
      case _ => throw new IllegalArgumentException(s"unsupported DATEDIFF unit: $unit")
    }
  }

  /** DATE_FORMAT formats through chrono strftime in the reference
    * (functions.rs:2403 `dt.format(&format)`) — reference queries write
    * '%Y-%m-%d'-style patterns, which Java's DateTimeFormatter would
    * render as garbage ('Y'/'d' are pattern letters, '%' a literal). A
    * literal pattern containing '%' is translated when the plan is
    * built; any other pattern is Spark's own. */
  def dateFormat(ts: Expression, fmt: Expression): Expression = fmt match {
    case StrLit(f) if f.contains('%') =>
      val p = strftimeToSpark(f)
      val formatted = fn("date_format", ts, Literal(p))
      // %e (chrono: SPACE-padded day) has no Java pattern letter —
      // strftimeToSpark emits a sentinel, replaced here with
      // lpad(day, 2, ' ') so 'Jan  5' renders like the reference
      if (p.indexOf(EDaySentinel) < 0) formatted
      else fn("regexp_replace", formatted, Literal(EDaySentinel.toString),
        fn("lpad", cast(fn("day", ts), StringType), Literal(2), Literal(" ")))
    case _ => fn("date_format", ts, fmt)
  }

  /** Placeholder `strftimeToSpark` emits for chrono's %e (space-padded
    * day-of-month, which Java's DateTimeFormatter cannot express) — a
    * control char: never a pattern letter, never in real literal text. */
  val EDaySentinel: Char = '\u0001'

  /** chrono strftime → Spark DateTimeFormatter pattern. Supports the
    * directives reference queries use; anything untranslatable fails
    * when the plan is built, with the directive named (chrono would
    * render an error marker per row — failing the build is the honest
    * Spark analog). Literal runs containing letters or quotes are
    * single-quoted. */
  def strftimeToSpark(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      // quote on '#'/'{'/'}' too: Java reserves them and throws
      // IllegalArgumentException on an unquoted occurrence — a pattern
      // chrono renders fine must not crash here (r12 review). '[' and
      // ']' are ACTIVE syntax (optional sections): unquoted they either
      // silently vanish from the output or throw on imbalance (r14
      // review) — same quoting rule.
      if (s.exists(c => c.isLetter || c == '\'' || c == '#' || c == '{' || c == '}'
          || c == '[' || c == ']'))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.clear()
    }
    def dir(s: String): Unit = { flushLit(); out.append(s) }
    var i = 0
    while (i < fmt.length) {
      if (fmt(i) == '%' && i + 1 < fmt.length) {
        val (spec, w) = fmt(i + 1) match {
          // %.3f / %.6f / %.9f — fraction with leading dot; %3f/%6f/%9f fixed
          case '.' if i + 3 < fmt.length && fmt(i + 3) == 'f' && "369".contains(fmt(i + 2)) =>
            ("." + "S" * (fmt(i + 2) - '0'), 4)
          case d if "369".contains(d) && i + 2 < fmt.length && fmt(i + 2) == 'f' =>
            ("S" * (d - '0'), 3)
          case ':' if i + 2 < fmt.length && fmt(i + 2) == 'z' => ("xxx", 3)
          case c =>
            val s = c match {
              case 'Y' => "yyyy"; case 'y' => "yy"
              case 'm' => "MM"; case 'd' => "dd"
              // chrono %e is SPACE-padded ("Jan  5"); Java has no such
              // letter — emit the sentinel for the caller to post-fill
              case 'e' => EDaySentinel.toString
              case 'H' => "HH"; case 'I' => "hh"
              case 'M' => "mm"; case 'S' => "ss"
              case 'p' => "a"
              case 'a' => "EEE"; case 'A' => "EEEE"
              case 'b' | 'h' => "MMM"; case 'B' => "MMMM"
              case 'j' => "DDD"
              case 'F' => "yyyy-MM-dd"; case 'D' => "MM/dd/yy"
              case 'T' => "HH:mm:ss"; case 'R' => "HH:mm"; case 'r' => "hh:mm:ss a"
              case 'f' => "SSSSSSSSS"
              case 'z' => "xx"; case 'Z' => "zzz"
              case '%' => null // literal percent
              case other => throw new IllegalArgumentException(
                s"unsupported strftime directive %$other in DATE_FORMAT pattern '$fmt'")
            }
            (s, 2)
        }
        if (spec == null) lit.append('%') else dir(spec)
        i += w
      } else { lit.append(fmt(i)); i += 1 }
    }
    flushLit()
    out.toString
  }

  // ---- JSON ----

  /** All Spark-path readings of a reference JSON path. The reference's
    * path language (functions.rs:1215 parse_json_path) is dot-SEGMENTS
    * only: array indices are dot-numeric (`$.arr.0.name`, never
    * `$.arr[0].name`) and a bare path without `$.` is accepted (`k` ≡
    * `$.k`). Its walk_json_path (functions.rs:1192) decides each
    * all-digit segment PER NODE at runtime: an array index on an array,
    * an object KEY on an object (`$.2024` finds the key "2024"). Spark
    * paths are static, but both readings are expressible (`$[n]`
    * indexes only arrays, `$.n` keys only objects — the wrong reading
    * returns NULL, never errors), so callers COALESCE over the
    * combinations. Capped at 3 digit segments (8 paths); beyond that
    * only the two uniform readings are probed. */
  def jsonPathCandidates(path: String): Seq[String] = {
    val t = path.trim
    if (t.isEmpty || t == "$") Seq("$")
    else {
      val stripped =
        if (t.startsWith("$.")) t.drop(2)
        else if (t.startsWith("$")) t.drop(1)
        else t
      val segs = stripped.split('.').filter(_.nonEmpty).toSeq
      val digitIdx = segs.indices.filter(i => segs(i).forall(_.isDigit))
      def render(asIndex: Set[Int]): String =
        "$" + segs.zipWithIndex.map { case (s, i) =>
          if (asIndex(i)) s"[$s]" else s".$s"
        }.mkString
      if (digitIdx.isEmpty) Seq(render(Set.empty))
      else if (digitIdx.size <= 3)
        // every index/key combination, all-index (the common case) first
        digitIdx.foldLeft(Seq(Set.empty[Int])) { (acc, i) =>
          acc.flatMap(s => Seq(s + i, s))
        }.map(render)
      else Seq(render(digitIdx.toSet), render(Set.empty))
    }
  }

  /** A literal path expands to every static reading; any other path is
    * one dynamic reading passed through untouched. */
  private def pathReadings(path: Expression): Seq[Expression] = path match {
    case StrLit(p) => jsonPathCandidates(p).map(Literal(_))
    case dynamic => Seq(dynamic)
  }

  private def firstNonNull(es: Seq[Expression]): Expression =
    if (es.length == 1) es.head else fn("coalesce", es: _*)

  /** JSON_EXTRACT / JSON_VALUE — the SAME evaluator function in the
    * reference (functions.rs:1073 json_value_function calls
    * extract_json_value): JSON text of the matched node, invalid JSON →
    * NULL. */
  def jsonValue(json: Expression, path: Expression): Expression =
    firstNonNull(pathReadings(path).map(fn("get_json_object", json, _)))

  /** JSON_EXISTS (functions.rs:1099): NULL json or path → NULL;
    * unparseable JSON → false; a key holding JSON null EXISTS (the walk
    * returns Some(Null)). get_json_object cannot tell a JSON null from a
    * missing key — variant can: try_variant_get yields a non-NULL variant
    * for JSON null and SQL NULL only for a missing path. variant_get
    * demands a LITERAL path, so a dynamic path falls back to the
    * get_json_object probe, keeping the NULL rules; its one
    * inexpressible corner is a key holding JSON null (false here, true in
    * the reference). */
  def jsonExists(json: Expression, path: Expression): Expression = {
    val nullBool = cast(Literal(null), BooleanType)
    path match {
      case StrLit(p) =>
        val hit = jsonPathCandidates(p)
          .map(c => IsNotNull(fn("try_variant_get", fn("try_parse_json", json), Literal(c))))
          .reduce(Or)
        CaseWhen(Seq(IsNull(json) -> nullBool,
          IsNull(fn("try_parse_json", json)) -> Literal(false)), hit)
      case _ =>
        CaseWhen(Seq(Or(IsNull(json), IsNull(path)) -> nullBool),
          IsNotNull(fn("get_json_object", json, path)))
    }
  }

  /** JSON_QUERY: nested objects/arrays as JSON text; scalars → NULL
    * (functions.rs:1138,1184). */
  def jsonQuery(json: Expression, path: Expression): Expression = {
    def node = jsonValue(json, path)
    CaseWhen(Seq(RLike(node, Literal("^\\s*[\\[{]")) -> node))
  }

  // ---- array / map / struct ----

  /** MAP keys must be STRINGS or INTEGERS in the reference, and integer
    * keys are STRINGIFIED (functions.rs:1352-1383) — every reference map
    * is string-keyed. Keys route through VeloMapKey (MAP(1,'x') =
    * {"1":"x"}; any other key type is rejected at analysis). */
  def map(args: Seq[Expression]): Expression =
    fn("map", args.zipWithIndex.map { case (a, i) => if (i % 2 == 0) VeloMapKey(a) else a }: _*)

  /** STRUCT (functions.rs:1316): an EVEN argument count whose name
    * positions are string literals is name/value pairs, an ODD count is
    * positional field0..fieldN — both named_struct. Duplicate names keep
    * ONE field (the reference's HashMap: last insert wins; the first
    * position is kept for a deterministic schema). Even-count calls with
    * non-literal names carry PER-RECORD field names in the reference —
    * unrepresentable in a fixed schema, so they fall back to Spark's
    * positional struct() (documented divergence, FuncParity ledger). */
  def struct(args: Seq[Expression]): Expression = {
    val pairs = args.grouped(2).toSeq
    if (args.nonEmpty && args.length % 2 == 0 && pairs.forall(p => StrLit.unapply(p.head).isDefined)) {
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, Expression]
      pairs.foreach(p => fields(StrLit.unapply(p.head).get) = p(1))
      fn("named_struct", fields.toSeq.flatMap { case (n, v) => Seq(Literal(n), v) }: _*)
    } else if (args.length % 2 == 1)
      fn("named_struct", args.zipWithIndex.flatMap { case (a, i) => Seq(Literal(s"field$i"), a) }: _*)
    else fn("struct", args: _*)
  }

  // ---- headers ----
  // The reference reads Kafka record headers; the in-DataFrame shape is
  // a map<string,string> column. A headerless record carries a NULL map
  // (Spark's kafka source emits null headers) — map_filter/map_concat/
  // map_contains_key all return NULL on it, which would silently drop
  // the first stamp and make HAS_HEADER three-valued, so every op but
  // the plain lookup reads it as the empty map.

  private def headersOrEmpty(h: Expression): Expression = fn("coalesce", h, fn("map"))

  def header(h: Expression, key: Expression): Expression = fn("element_at", h, key)

  /** Key PRESENCE, not value-nullness: a header carried with a NULL
    * value (legal in Kafka) reports true, as the reference's does. */
  def hasHeader(h: Expression, key: Expression): Expression =
    fn("map_contains_key", headersOrEmpty(h), key)

  def headerKeys(h: Expression): Expression = fn("map_keys", headersOrEmpty(h))

  /** SET_HEADER is an UPSERT: the existing key is dropped before the
    * concat — map_concat alone throws DUPLICATE_MAP_KEY (Spark's default
    * mapKeyDedupPolicy=EXCEPTION) on the normal re-stamp case. Header
    * VALUES are strings: the value is stringified the reference's way
    * (functions.rs:2613 — Rust rendering, NULL → "null"). */
  def setHeader(h: Expression, key: Expression, value: Expression): Expression =
    fn("map_concat", removeHeader(h, key),
      fn("map", key, fn("coalesce", VeloStr(value), Literal("null"))))

  def removeHeader(h: Expression, key: Expression): Expression = {
    val (k, v) = (UnresolvedNamedLambdaVariable(Seq("__hk")), UnresolvedNamedLambdaVariable(Seq("__hv")))
    fn("map_filter", headersOrEmpty(h), LambdaFunction(Not(EqualTo(k, key)), Seq(k, v)))
  }
}
