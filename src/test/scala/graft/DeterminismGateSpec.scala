package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** The cross-engine determinism gate (round-7, VERDICT item 3): no query
  * may contain an expression whose result depends on engine-specific
  * rounding of a transcendental or of a double→decimal boundary — the
  * defect class that made q148/q151 builder-green but driver-red (the
  * value flips only on particular testdata instances / DuckDB builds,
  * so the ordinary oracle run cannot catch it).
  *
  * Banned anywhere in a query plan:
  *  - transcendentals (Log/Log2/Log10/Log1p/Logarithm/Exp/Expm1/Pow):
  *    Java and libm implementations differ by 1 ulp on some inputs;
  *    ANY discretization of the result is instance-sensitive. The
  *    engine-exact replacement is [[graft.functions.FixedLog.lnLat12]].
  *  - Round/BRound on a double/float child: Spark rounds the double's
  *    shortest DECIMAL representation (BigDecimal.valueOf) while DuckDB
  *    rounds the BINARY value — they disagree exactly at representation
  *    boundaries. The safe form is floor/ceil half-away on the binary
  *    value ([[graft.similarity.Vectors.latScalar]]/latticize).
  *  - Cast(double→decimal) at any scale other than the documented
  *    Common.dsum/davg money scales (2/4/6/12 over value-lattice data):
  *    same decimal-vs-binary boundary sensitivity as round(). The
  *    money-scale whitelist is deliberate: those inputs live on a
  *    decimal VALUE lattice at least as coarse as the cast scale
  *    (integer quantities at scale 2, cent balances at scale 4+), so
  *    the cast can never land on a rounding boundary, and the pattern
  *    is the SKILL-documented aggregation idiom. Anything else must
  *    justify itself here by name.
  */
class DeterminismGateSpec extends SparkSpec {

  // query-name → reason, for the rare legitimate exception
  private val whitelist: Map[String, String] = Map.empty

  private val transcendental = Set(
    "org.apache.spark.sql.catalyst.expressions.Log",
    "org.apache.spark.sql.catalyst.expressions.Log2",
    "org.apache.spark.sql.catalyst.expressions.Log10",
    "org.apache.spark.sql.catalyst.expressions.Log1p",
    "org.apache.spark.sql.catalyst.expressions.Logarithm",
    "org.apache.spark.sql.catalyst.expressions.Exp",
    "org.apache.spark.sql.catalyst.expressions.Expm1",
    "org.apache.spark.sql.catalyst.expressions.Pow")

  /** The ONE sanctioned double→decimal cast is the Common.dsum/davg
    * aggregation idiom: `Sum(Cast(money_double AS DECIMAL(30, 2|4|6|12)))`
    * over value-lattice data. Round-8 narrowing (ADVICE-r7): the
    * exemption keys on the full SHAPE — precision 30 AND documented
    * scale AND the cast sitting directly under a Sum — not on scale
    * alone, so an off-pattern boundary-sensitive cast like
    * double→DECIMAL(38,12) over non-lattice data is a build failure.
    */
  private def isDsumShape(c: Cast, parent: Option[Expression],
      windowSumRefs: Set[String]): Boolean =
    (c.child.dataType, c.dataType) match {
      case (DoubleType | FloatType, dt: DecimalType) =>
        dt.precision == 30 && Set(2, 4, 6, 12).contains(dt.scale) &&
          parent.exists {
            case _ if parent.get.getClass.getName ==
              "org.apache.spark.sql.catalyst.expressions.aggregate.Sum" =>
              true
            // dsumOver: ExtractWindowExpressions re-parents the Sum's
            // cast argument into a child Project under a synthetic
            // `_w<N>` alias. Round-9 tightening (ADVICE-r8): the name
            // shape alone is spoofable by a hand-written alias, so the
            // exemption additionally requires that THIS alias name is
            // consumed by a Sum inside a Window node of the same plan —
            // the cast must actually feed a windowed Sum, not merely be
            // named like one.
            case a: Alias =>
              a.name.matches("_w\\d+") && windowSumRefs.contains(a.name)
            case _ => false
          }
      case _ => false
    }

  /** Names of attributes referenced by a Sum aggregate inside THIS
    * Window node's window expressions — the legitimate consumers of the
    * `_w<N>`-aliased dsumOver cast. Round-10 scoping (ADVICE-r9): the
    * set is collected per Window node and only activates for that
    * node's child subtree (see [[planOffenders]]'s top-down walk), so a
    * hand-written `_wN` alias in an unrelated subtree is no longer
    * whitelisted by a windowed Sum elsewhere in the plan.
    */
  private def windowSumRefNames(
      w: org.apache.spark.sql.catalyst.plans.logical.Window): Set[String] =
    w.windowExpressions.flatMap(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.aggregate.Sum =>
        s.references.map(_.name).toSeq
    }.flatten).toSet

  private def offenders(e: Expression, parent: Option[Expression],
      windowSumRefs: Set[String]): Seq[String] = {
    val self = e.getClass.getName match {
      case n if transcendental.contains(n) =>
        Seq(s"transcendental ${e.getClass.getSimpleName}($e)")
      case n if n.endsWith(".Round") || n.endsWith(".BRound") =>
        e.children.headOption.map(_.dataType) match {
          case Some(DoubleType) | Some(FloatType) =>
            Seq(s"${e.getClass.getSimpleName} on double: $e")
          case _ => Nil
        }
      case _ => e match {
        case c: Cast => (c.child.dataType, c.dataType) match {
          case (DoubleType | FloatType, dt: DecimalType)
              if !isDsumShape(c, parent, windowSumRefs) =>
            Seq(s"cast double→${dt.sql} outside the Sum(dsum) shape: $c")
          case _ => Nil
        }
        case _ => Nil
      }
    }
    val sub = e.collect { case sq: SubqueryExpression => sq.plan }
      .flatMap(planOffenders)
    self ++ e.children.flatMap(offenders(_, Some(e), windowSumRefs)) ++ sub
  }

  private def planOffenders(plan: LogicalPlan): Seq[String] = {
    // top-down walk threading the ACTIVE window-Sum reference set: a
    // Window node's Sum refs whitelist `_wN` aliases only inside its own
    // child subtree (where ExtractWindowExpressions actually parks the
    // re-parented cast), never in sibling or ancestor subtrees
    def walk(node: LogicalPlan, active: Set[String]): Seq[String] = {
      val here = node.expressions.flatMap(offenders(_, None, active))
      val childActive = node match {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          active ++ windowSumRefNames(w)
        case _ => active
      }
      here ++ node.children.flatMap(walk(_, childActive))
    }
    walk(plan, Set.empty)
  }

  test("no query contains a transcendental, a round-on-double, or an " +
      "off-pattern double→decimal cast") {
    val bad = DeclaredPlans.all.flatMap {
      case b if whitelist.contains(b.name) => Nil
      case b =>
        // analysis only — the gate inspects plans, it never executes
        val hits = planOffenders(b.analyzed).distinct
        if (hits.isEmpty) Nil
        else Seq(s"${b.name}:\n  ${hits.mkString("\n  ")}")
    }
    assert(bad.isEmpty,
      s"\nboundary-sensitive expressions found (see scaladoc for the " +
        s"safe replacements):\n${bad.mkString("\n")}")
  }

  /** Round-8 gate (VERDICT-r7 item 4): no declared query may EMIT a
    * DecimalType column. Decimal intermediates are fine (exact lattice
    * arithmetic is the engine's whole determinism strategy), but a
    * decimal at the output boundary hits driver-side hash paths no
    * other query exercises — pyarrow's decimal128 and DuckDB's
    * HUGEINT-backed decimal canonicalize differently, which kept q151
    * red for two rounds with zero value drift. Every query must land
    * its outputs on bigint-on-a-lattice or double, the discipline the
    * rest of the surface already follows.
    */
  private def containsDecimal(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case _: DecimalType => true
    case a: org.apache.spark.sql.types.ArrayType =>
      containsDecimal(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      containsDecimal(m.keyType) || containsDecimal(m.valueType)
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.exists(f => containsDecimal(f.dataType))
    case _ => false
  }

  test("no query output schema contains a DecimalType column") {
    val bad = DeclaredPlans.all.flatMap { b =>
      val hits = b.analyzed.schema.fields.filter(f => containsDecimal(f.dataType))
      if (hits.isEmpty) Nil
      else Seq(s"${b.name}: ${hits.map(f => s"${f.name}: ${f.dataType.sql}")
        .mkString(", ")}")
    }
    assert(bad.isEmpty,
      s"\ndecimal-emitting query outputs (rescale to BIGINT on a " +
        s"lattice or cast to DOUBLE at the boundary):\n${bad.mkString("\n")}")
  }
}
