package graft.mql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Ast._

/** Compiles an MQL meta-expression to a Spark `Column` over a
  * `VariantType` metadata column.
  *
  * Truth table (the reference's in-memory evaluator,
  * `metacat/mql/meta_evaluator.py:107-160`, cross-checked against the
  * jsonpath SQL backend `metacat/common/meta_dnf.py:100-304` and the
  * documented examples `docs/mql.rst:515-538`):
  *
  *  - every atom first evaluates RAW: missing key, type mismatch, bad
  *    subscript, or non-array for `len()`/`[any]` ⇒ false — never an error;
  *  - the `neg` flag (from `!`/`not in`/`[all]` conversion) applies AFTER:
  *    `result = raw XOR neg`. So `a.b[any] != 1` on a missing key is false,
  *    while `!(a.b[any] == 1)` (≡ `a.b[all] != 1`) is TRUE — vacuous ∀.
  *    (The reference's two backends disagree on this corner: jsonpath
  *    `not(null)` ⇒ unknown ⇒ false, the Python evaluator returns `neg`.
  *    We follow the evaluator: it is the one the docs' identities
  *    `array[all] != x ≡ !(array[any] == x)` require.)
  *  - type strictness matches jsonb/Python: a JSON string `"1.5"` never
  *    compares equal to the number `1.5` (docs/mql.rst:165-172); numeric
  *    int/float compare with widening (`5 == 5.0` is true).
  *  - `[any]`/`[all]` iterate array elements, or VALUES of a dict
  *    (`meta_evaluator.py:81-85,131-135`); scalars are not iterated.
  *  - regex `~` is an unanchored SEARCH (`re.search`), `*` adds
  *    case-insensitivity; negated forms apply the negation inside the raw
  *    evaluation (missing key still ⇒ false before XOR neg).
  *
  * Everything here stays inside Catalyst expressions (no UDFs), so
  * whole-stage codegen and filter pushdown apply. On a 100 TB catalog the
  * win comes from shredding hot keys into typed parquet columns; the
  * compiler supports that via the `shredded` hook: keys with a materialized
  * typed column skip Variant access entirely.
  */
object MetaCompiler {

  /** Strict numeric extraction from a variant: exact-match the
    * fixed-width schema names, prefix-match only DECIMAL(p,s) — cheaper
    * per element than a schema regex inside `[any]`/`[all]` loops. The
    * single source of the numeric guard (also used by the external
    * lookup-join filter). */
  def numericVariant(v: Column): Column = {
    val sch = schema_of_variant(v)
    when(sch.isin("BIGINT", "DOUBLE", "FLOAT", "INT", "SMALLINT", "TINYINT") ||
      sch.startsWith("DECIMAL"), try_variant_get(v, "$", "double"))
  }

  /** strict string extraction (numbers never coerce — mql.rst:165-172) */
  def stringVariant(v: Column): Column =
    when(schema_of_variant(v) === "STRING", try_variant_get(v, "$", "string"))

  /** class of a typed column's values; predicates against a constant of a
    * different class are raw-false (same as the Variant type guard, and
    * the same TypeError⇒false the reference's evaluator produces) */
  sealed trait ShredType
  case object ShredNum extends ShredType
  case object ShredStr extends ShredType
  case object ShredBool extends ShredType

  /** Binding of object attributes (dot-less names) to typed columns with
    * their value class. `created_timestamp` must be bound to epoch
    * SECONDS (numeric) — MQL datetime()/date() constants fold to epoch
    * floats. */
  type Attrs = String => Option[(Column, ShredType)]

  /** metadata keys materialized as typed columns (Variant shredding): the
    * compiler skips Variant access for them, so the predicate is an
    * ordinary typed comparison that reaches parquet min/max stats. Only
    * keys with a uniform declared type may be shredded. */
  type Shredding = String => Option[(Column, ShredType)]

  val NoShredding: Shredding = _ => None

  def compile(e: MetaExp, meta: Column, attrs: Attrs,
      shredded: Shredding = NoShredding): Column = {
    val c = new Ctx(meta, attrs, shredded)
    c.exp(e)
  }


  private final class Ctx(meta: Column, attrs: Attrs, shredded: Shredding) {

    def exp(e: MetaExp): Column = e match {
      case MAnd(cs) => cs.map(exp).reduce(_ && _)
      case MOr(cs) => cs.map(exp).reduce(_ || _)
      // typed-column scalars (shredded metadata keys, object attributes)
      // compile to NULL-FREE conjuncts (`isNotNull && typed cmp`) instead
      // of the generic `coalesce(raw, false)` wrapper: coalesce blocks
      // both predicate pushdown and the optimizer's cast-unwrapping, so
      // the old form read EVERY row group — measured through the catalog
      // read path (r14, PERFORMANCE.md "Shred pushdown reached the real
      // read path"), the shred columns saved the
      // Variant decode but never reached parquet min/max stats. The
      // missing-key⇒false XOR neg truth table is unchanged: a null column
      // makes the conjunct false, and negation flips it to true.
      case Cmp(l, op, r, neg) => typedCol(l) match {
        case Some((x, t)) => xorNegNullFree(nullFreeCmp(x, t, op, r), neg)
        case None => xorNeg(rawCmp(l, op, r), neg)
      }
      // `inv` only arises from the [all] rewrite on array scalars, which
      // are never typed columns — the typed branch can ignore it
      case InRange(l, lo, hi, neg, inv) => typedCol(l) match {
        case Some((x, t)) => xorNegNullFree(nullFreeRange(x, t, lo, hi), neg)
        case None => xorNeg(rawRange(l, lo, hi, inv), neg)
      }
      case InSet(l, vs, neg, inv) => typedCol(l) match {
        case Some((x, t)) => xorNegNullFree(nullFreeSet(x, t, vs), neg)
        case None => xorNeg(rawSet(l, vs, inv), neg)
      }
      case Present(n, neg) => xorNeg(tv(n).isNotNull, neg)
    }

    private def xorNeg(raw: Column, neg: Boolean): Column = {
      val r = coalesce(raw, lit(false))
      if (neg) !r else r
    }

    /** for raw predicates that can never evaluate to null — skipping the
      * coalesce keeps them pushdown-eligible */
    private def xorNegNullFree(raw: Column, neg: Boolean): Column =
      if (neg) !raw else raw

    /** scalar bound to a typed column: a shredded metadata key or an
      * object attribute */
    private def typedCol(l: Scalar): Option[(Column, ShredType)] = l match {
      case MetaAttr(n) => shredded(n)
      case ObjectAttr(n) => Some(attrCol(n))
      case _ => None
    }

    /** null-free typed comparison: false on a null column; `!=` is the
      * complement among present values (identical truth table to
      * [[cmpShredded]] under the callers' coalesce, minus the coalesce) */
    private def nullFreeCmp(x: Column, t: ShredType, op: String, c: Const): Column =
      if (op == "!=") x.isNotNull && !cmpShredded(x, t, "==", c)
      else x.isNotNull && cmpShredded(x, t, op, c)

    private def nullFreeRange(x: Column, t: ShredType, lo: Const, hi: Const): Column =
      ((lo, t): @unchecked) match {
        case (IntC(_) | FloatC(_), ShredNum) | (StringC(_), ShredStr) =>
          x.isNotNull && typedRange(x, lo, hi)
        case _ => lit(false)
      }

    private def nullFreeSet(x: Column, t: ShredType, vs: List[Const]): Column =
      x.isNotNull && vs.map(c => cmpShredded(x, t, "==", c)).reduce(_ || _)

    // ---- variant access ----
    private def path(name: String): String = s"$$['$name']"

    /** top-level key as variant (null when absent) */
    private def tv(name: String): Column = try_variant_get(meta, path(name), "variant")

    /** array elements, or dict values (meta_evaluator.py:81-85).
      * The key's variant is extracted from the (possibly wide) metadata
      * once; the array/map casts then re-parse only the small sub-variant
      * (and `coalesce` short-circuits, so the map branch doesn't run for
      * arrays — the common case). */
    private def elements(name: String): Column = {
      val v = tv(name)
      coalesce(
        try_variant_get(v, "$", "array<variant>"),
        map_values(try_variant_get(v, "$", "map<string,variant>")))
    }

    private def subscriptV(s: Scalar): Column = s match {
      case SubscriptInt(n, i) => try_variant_get(meta, s"$$['$n'][$i]", "variant")
      case SubscriptKey(n, k) => try_variant_get(meta, s"$$['$n']['$k']", "variant")
      case other => throw new IllegalArgumentException(other.toString)
    }

    // ---- strict typed extraction from a variant value ----
    private def schemaOf(v: Column): Column = schema_of_variant(v)
    private def numOf(v: Column): Column = MetaCompiler.numericVariant(v)
    private def strOf(v: Column): Column = MetaCompiler.stringVariant(v)
    private def boolOf(v: Column): Column =
      when(schemaOf(v) === "BOOLEAN", try_variant_get(v, "$", "boolean"))

    // ---- comparisons ----
    /** integral constants become LONG literals: against an integer shred
      * column the comparison then needs no cast on either side (the
      * optimizer does NOT unwrap long→double column casts, so a double
      * literal would un-push the predicate); against double columns the
      * literal side is promoted, which is always pushable. Values beyond
      * 2^53 compare exactly this way where the old double compare was
      * lossy. */
    private def numConst(d: Double): Any =
      if (d == math.rint(d) && math.abs(d) <= 9.007199254740992e15) d.toLong
      else d
    private def cmpNum(x: Column, op: String, dRaw: Double): Column = {
      val d = numConst(dRaw)
      op match {
        case "==" => x === d
        case "<" => x < d
        case "<=" => x <= d
        case ">" => x > d
        case ">=" => x >= d
        case _ => lit(false) // regex on a number: type mismatch => false
      }
    }

    private def cmpStr(x: Column, op: String, s: String): Column = op match {
      case "==" => x === s
      case "<" => x < s
      case "<=" => x <= s
      case ">" => x > s
      case ">=" => x >= s
      case "~" => x.rlike(RegexDialect.toJava(s))
      case "~*" => x.rlike(RegexDialect.toJava(s, caseInsensitive = true))
      case "!~" => !x.rlike(RegexDialect.toJava(s))
      case "!~*" => !x.rlike(RegexDialect.toJava(s, caseInsensitive = true))
      case _ => lit(false)
    }

    /** variant value vs constant; null/false when the value is
      * absent/mistyped (callers coalesce to false).
      *
      * `!=` is defined as the exact complement of `==` among PRESENT values
      * of any type (Python `x != y` semantics of the reference evaluator's
      * do_cmp_op) — this is what makes the documented identity
      * `a[all] != x ≡ !(a[any] == x)` hold after the operator-inversion
      * rewrite. Ordering/regex ops stay strictly typed (mismatch ⇒ false). */
    private def cmpVariant(v: Column, op: String, c: Const): Column =
      if (op == "!=")
        v.isNotNull && !coalesce(cmpVariant(v, "==", c), lit(false))
      else c match {
        case IntC(i) => cmpNum(numOf(v), op, i.toDouble)
        case FloatC(d) => cmpNum(numOf(v), op, d)
        case DateC(d) => cmpNum(numOf(v), op, d) // defensive; parser expands dates
        case StringC(s) => cmpStr(strOf(v), op, s)
        case BoolC(b) => op match {
          case "==" => boolOf(v) === b
          case _ => lit(false)
        }
      }

    private def attrCol(name: String): (Column, ShredType) =
      attrs(name).getOrElse(
        throw Rewrites.MqlResolveError(s"Unrecognized attribute name $name"))

    /** shredded column vs constant: class mismatch is raw-false, `!=` is
      * complement among present values — identical to the Variant path */
    private def cmpShredded(x: Column, t: ShredType, op: String, c: Const): Column =
      if (op == "!=")
        x.isNotNull && !coalesce(cmpShredded(x, t, "==", c), lit(false))
      else (c, t) match {
        // constants stay on the LITERAL side, uncast column on the left:
        // the analyzer's type coercion + UnwrapCastInBinaryComparison
        // then leave a plain typed comparison the parquet source can
        // push (a cast on the COLUMN side is never pushable)
        case (IntC(i), ShredNum) => cmpNum(x, op, i.toDouble)
        case (FloatC(d), ShredNum) => cmpNum(x, op, d)
        case (DateC(d), ShredNum) => cmpNum(x, op, d)
        case (StringC(s), ShredStr) => cmpStr(x, op, s)
        case (BoolC(b), ShredBool) => if (op == "==") x === b else lit(false)
        case _ => lit(false) // type-class mismatch
      }

    private def rawCmp(l: Scalar, op: String, c: Const): Column = l match {
      case MetaAttr(n) =>
        shredded(n) match {
          case Some((col, t)) => cmpShredded(col, t, op, c)
          case None => cmpVariant(tv(n), op, c)
        }
      case ObjectAttr(n) =>
        val (col, t) = attrCol(n)
        cmpShredded(col, t, op, c)
      case ArrayAny(n) => exists(elements(n), x => coalesce(cmpVariant(x, op, c), lit(false)))
      case s @ (SubscriptInt(_, _) | SubscriptKey(_, _)) => cmpVariant(subscriptV(s), op, c)
      case ArrayLen(n) =>
        val sz = size(try_variant_get(meta, path(n), "array<variant>")).cast("double")
        def eqC: Column = c match {
          case IntC(i) => sz === i.toDouble
          case FloatC(d) => sz === d
          case _ => lit(false) // a length never equals a string/bool
        }
        if (op == "!=") sz.isNotNull && !coalesce(eqC, lit(false))
        else c match {
          case IntC(i) => cmpNum(sz, op, i.toDouble)
          case FloatC(d) => cmpNum(sz, op, d)
          case _ => lit(false)
        }
      case ArrayAll(n) =>
        throw new IllegalStateException(s"[all] on $n must be eliminated at parse time")
    }

    private def rangePred(v: Column, lo: Const, hi: Const): Column = (lo, hi) match {
      case (IntC(a), IntC(b)) => numOf(v).between(a.toDouble, b.toDouble)
      case (FloatC(a), FloatC(b)) => numOf(v).between(a, b)
      case (StringC(a), StringC(b)) => strOf(v).between(a, b)
      case _ => lit(false)
    }

    /** complement of the element predicate among present values, for the
      * `[all]` conversion's elemInverted */
    private def invElem(x: Column, pred: Column): Column =
      x.isNotNull && !coalesce(pred, lit(false))

    private def rawRange(l: Scalar, lo: Const, hi: Const, inv: Boolean = false): Column = l match {
      case MetaAttr(n) =>
        shredded(n) match {
          case Some((col, t)) => ((lo, t): @unchecked) match {
            case (IntC(_) | FloatC(_), ShredNum) | (StringC(_), ShredStr) =>
              typedRange(col, lo, hi)
            case _ => lit(false)
          }
          case None => rangePred(tv(n), lo, hi)
        }
      case ObjectAttr(n) =>
        val (col, t) = attrCol(n)
        ((lo, t): @unchecked) match {
          case (IntC(_) | FloatC(_), ShredNum) | (StringC(_), ShredStr) =>
            typedRange(col, lo, hi)
          case _ => lit(false)
        }
      // one element within the range (docs/mql.rst:559-574)
      case ArrayAny(n) => exists(elements(n), x => {
        val p = rangePred(x, lo, hi)
        if (inv) invElem(x, p) else coalesce(p, lit(false))
      })
      case s @ (SubscriptInt(_, _) | SubscriptKey(_, _)) => rangePred(subscriptV(s), lo, hi)
      case ArrayLen(n) => (lo, hi) match {
        case (IntC(a), IntC(b)) =>
          size(try_variant_get(meta, path(n), "array<variant>")).cast("double").between(a.toDouble, b.toDouble)
        case _ => lit(false)
      }
      case ArrayAll(n) =>
        throw new IllegalStateException(s"[all] on $n must be eliminated at parse time")
    }

    private def typedRange(x: Column, lo: Const, hi: Const): Column = (lo, hi) match {
      // uncast column side, long literals for integral bounds — see
      // cmpShredded's pushdown note
      case (IntC(a), IntC(b)) => x.between(a, b)
      case (FloatC(a), FloatC(b)) => x.between(numConst(a), numConst(b))
      case (StringC(a), StringC(b)) => x.between(a, b)
      case _ => lit(false)
    }

    /** membership grouped by constant type so each typed extraction (and
      * its schema guard) is evaluated once, not per value */
    private def setPred(v: Column, vs: List[Const]): Column = {
      val nums = vs.collect {
        case IntC(i) => i.toDouble
        case FloatC(d) => d
        case DateC(d) => d
      }
      val strs = vs.collect { case StringC(s) => s }
      val bools = vs.collect { case BoolC(b) => b }
      val parts =
        (if (nums.nonEmpty) List(numOf(v).isin(nums: _*)) else Nil) ++
          (if (strs.nonEmpty) List(strOf(v).isin(strs: _*)) else Nil) ++
          (if (bools.nonEmpty) List(boolOf(v).isin(bools: _*)) else Nil)
      parts.map(p => coalesce(p, lit(false))).reduce(_ || _)
    }

    private def rawSet(l: Scalar, vs: List[Const], inv: Boolean = false): Column = l match {
      case MetaAttr(n) =>
        shredded(n) match {
          case Some((col, t)) =>
            vs.map(c => coalesce(cmpShredded(col, t, "==", c), lit(false))).reduce(_ || _)
          case None => setPred(tv(n), vs)
        }
      case ObjectAttr(n) =>
        val (col, t) = attrCol(n)
        vs.map(c => coalesce(cmpShredded(col, t, "==", c), lit(false))).reduce(_ || _)
      case ArrayAny(n) => exists(elements(n), x => {
        val p = setPred(x, vs)
        if (inv) invElem(x, p) else p
      })
      case s @ (SubscriptInt(_, _) | SubscriptKey(_, _)) => setPred(subscriptV(s), vs)
      case ArrayLen(n) =>
        val sz = size(try_variant_get(meta, path(n), "array<variant>")).cast("double")
        vs.collect { case IntC(i) => sz === i.toDouble; case FloatC(d) => sz === d }
          .reduceOption(_ || _).getOrElse(lit(false))
      case ArrayAll(n) =>
        throw new IllegalStateException(s"[all] on $n must be eliminated at parse time")
    }
  }
}
