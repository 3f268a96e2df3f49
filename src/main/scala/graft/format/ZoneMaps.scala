package graft.format

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType,
  LongType, ShortType}

/** Manifest zone maps: an analyzed data predicate translated into
  * predicates over a version's manifest entries (one row per live
  * file: `min_c`/`max_c` envelopes, `nulls_c`, `trunc_c`, `bloom_c`).
  * The one translation behind every stats-pruned reader and mutation:
  * [[GraftTable.prunedWhere]], the copy-on-write audit, the MOR delete,
  * `compactWhere` and the DSv2 scan's file planning.
  *
  * Comparisons on a stats column become interval tests against the
  * file's envelope, equality probes also test a bloom index, And/Or
  * recurse, and anything else (other columns, functions, NOT) keeps
  * the file — so skipping is CONSERVATIVE and the row-level filter
  * re-applied on the survivors keeps the result exact (the
  * Delta/Iceberg data-skipping contract). A NULL envelope (a manifest
  * dir written before the column carried stats) keeps the file too. */
object ZoneMaps {

  /** IN lists up to this length test each value (envelope and bloom);
    * longer ones test the set's own [min, max] against the envelope
    * (Iceberg's trick) — O(1) predicate size for the thousands of
    * values a runtime filter or a key list delivers. */
  private val MaxInProbes = 64

  // lossless integral widening order: byte < short < int < long
  private val Integral = Seq[DataType](ByteType, ShortType, IntegerType,
    LongType)

  /** `cond` (resolved; see [[ColumnBridge.resolveFilter]]) as
    * (KEEP, PROVED) over manifest entries. `l2p` maps a logical column
    * to its physical (manifest) name where they differ; `statsCols` and
    * `bloomCols` are physical; `mcols` are the manifest's columns,
    * needed only for PROVED.
    *  - KEEP is FALSE only for a file that provably holds no cond-TRUE
    *    row — the zone-map skip;
    *  - PROVED is TRUE only for a file whose every row makes `cond`
    *    TRUE — its dual, so a COW mutation drops the file unread. It
    *    needs no NULLs in the column (`nulls_c = 0`: a NULL row makes a
    *    comparison NULL, not TRUE), an exact envelope (not `trunc_c`),
    *    and the whole [min, max] on the TRUE side; `And` holds when
    *    both sides do, `Or` when either does. Anything else, NULL
    *    included, is unproved and gets audited. */
  def apply(cond: Expression, l2p: Map[String, String],
      statsCols: Set[String], bloomCols: Set[String],
      mcols: Set[String] = Set.empty): (Column, Column) = {
    // (physical column, bare) for a column or a LOSSLESS INTEGRAL
    // WIDENING of one: widening keeps order, so the narrow envelope
    // still bounds the widened values. ANSI analysis compares an int
    // column with a bigint or string literal as
    // `cast(c as bigint) = cast('9' as bigint)`. Any other cast can
    // break monotonicity and keeps the file.
    def stat(e: Expression): Option[(String, Boolean)] = e match {
      case a: AttributeReference => Some((l2p.getOrElse(a.name, a.name), true))
      case Cast(a: AttributeReference, to, _, _)
          if Integral.contains(a.dataType) &&
            Integral.indexOf(to) >= Integral.indexOf(a.dataType) =>
        Some((l2p.getOrElse(a.name, a.name), false))
      case _ => None
    }
    // equality probes also prune through a BLOOM INDEX (columns the
    // table is not clustered on), but only on the bare column: the
    // bloom hashes TYPED values (xxhash64(int) ≠ xxhash64(long))
    def eqCol(c: String, bare: Boolean): Boolean =
      statsCols(c) || (bare && bloomCols(c))
    def eqTest(c: String, bare: Boolean, lv: Column): Column = {
      val env =
        if (statsCols(c))
          col(s"min_$c").isNull ||
            (col(s"min_$c") <= lv && col(s"max_$c") >= lv)
        else lit(true)
      val blm =
        if (bare && bloomCols(c))
          graft.functions.BloomFilterIndex.mightContain(col(s"bloom_$c"), lv)
        else lit(true)
      env && blm
    }
    def value(e: Expression): Option[Column] = e match {
      case l: Literal => Some(ColumnBridge.column(l))
      case c if c.foldable => // analyzer-inserted Cast over a literal
        Some(ColumnBridge.column(Literal(c.eval(null), c.dataType)))
      case _ => None
    }
    // NULLs never satisfy IN, so they carry no pruning information;
    // with none left nothing can match
    def inTest(c: String, bare: Boolean, t: DataType, vs: Seq[Any]): Column =
      if (vs.isEmpty) lit(false)
      else if (vs.length <= MaxInProbes)
        orTree(vs.map(v =>
          eqTest(c, bare, ColumnBridge.column(Literal(v, t)))).toIndexedSeq)
      else if (statsCols(c) && RowOrdering.isOrderable(t)) {
        val ord = TypeUtils.getInterpretedOrdering(t)
        val (lo, hi) = (Literal(vs.min(ord), t), Literal(vs.max(ord), t))
        col(s"min_$c").isNull || (col(s"max_$c") >= ColumnBridge.column(lo) &&
          col(s"min_$c") <= ColumnBridge.column(hi))
      } else lit(true) // a long IN on a bloom-only column: decline
    // a comparison as (column, bare, op, literal), column on the left:
    // a literal on the left flips the operator
    val flip = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<",
      ">=" -> "<=")
    def atom(e: Expression): Option[(String, Boolean, String, Column)] = {
      val parts = e match {
        case EqualTo(l, r) => Some(("=", l, r))
        case LessThan(l, r) => Some(("<", l, r))
        case LessThanOrEqual(l, r) => Some(("<=", l, r))
        case GreaterThan(l, r) => Some((">", l, r))
        case GreaterThanOrEqual(l, r) => Some((">=", l, r))
        case _ => None
      }
      parts.flatMap { case (op, l, r) =>
        (stat(l), value(r)) match {
          case (Some((c, bare)), Some(lv)) => Some((c, bare, op, lv))
          case _ => (stat(r), value(l)) match {
            case (Some((c, bare)), Some(lv)) => Some((c, bare, flip(op), lv))
            case _ => None
          }
        }
      }
    }
    def keep(e: Expression): Column = e match {
      case And(l, r) => keep(l) && keep(r)
      case Or(l, r) => keep(l) || keep(r)
      case In(a, vs) if vs.forall(_.foldable) => stat(a) match {
        case Some((c, bare)) if eqCol(c, bare) =>
          inTest(c, bare, a.dataType, vs.map(_.eval(null)).filter(_ != null))
        case _ => lit(true)
      }
      case _ => atom(e) match {
        case Some((c, bare, "=", lv)) if eqCol(c, bare) => eqTest(c, bare, lv)
        case Some((c, _, op, lv)) if op != "=" && statsCols(c) =>
          val (mn, mx) = (col(s"min_$c"), col(s"max_$c"))
          op match {
            case "<" => mn.isNull || mn < lv
            case "<=" => mn.isNull || mn <= lv
            case ">" => mx.isNull || mx > lv
            case _ => mx.isNull || mx >= lv
          }
        case _ => lit(true)
      }
    }
    def exact(c: String): Column =
      (if (mcols(s"nulls_$c")) col(s"nulls_$c") === 0L else lit(false)) &&
        (if (mcols(s"trunc_$c")) !(col(s"trunc_$c") <=> lit(true))
         else lit(true))
    def proved(e: Expression): Column = e match {
      case And(l, r) => proved(l) && proved(r)
      case Or(l, r) => proved(l) || proved(r)
      case _ => atom(e) match {
        case Some((c, _, op, lv)) if mcols(s"min_$c") =>
          val (mn, mx) = (col(s"min_$c"), col(s"max_$c"))
          exact(c) && (op match {
            case "=" => mn === lv && mx === lv
            case "<" => mx < lv
            case "<=" => mx <= lv
            case ">" => mn > lv
            case _ => mn >= lv
          })
        case _ => lit(false)
      }
    }
    (keep(cond), coalesce(proved(cond), lit(false)))
  }

  /** An OR of `cs` folded as a balanced tree, so its depth stays
    * logarithmic in the number of terms. */
  private def orTree(cs: IndexedSeq[Column]): Column =
    if (cs.length == 1) cs.head
    else {
      val (l, r) = cs.splitAt(cs.length / 2)
      orTree(l) || orTree(r)
    }
}
