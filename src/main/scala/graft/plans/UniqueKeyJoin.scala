package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Informational unique-key constraints for scan relations, and the
  * redundant-join elimination they license.
  *
  * A warehouse declares its keys (`PRIMARY KEY` / `UNIQUE` in the
  * reference's DDL, `create_datawarehouse.sql:9-50`); an engine that
  * knows them can delete provably-redundant work. The classic case — the
  * reference's own gold build shape (`python_scripts.py:566-573`,
  * `SELECT fact.* FROM fact LEFT JOIN dim ...`) — is a LEFT join against
  * a unique key where no dimension column is ever read: with the key
  * unique, every probe row produces EXACTLY one output row (one match,
  * or one null-extension that nothing observes), so the join is the
  * identity on the probe side and the whole dimension scan + exchange +
  * hash build is dead weight. At 100 TB that is the difference between a
  * fact-wide shuffle and no shuffle at all, and it is precisely the
  * rewrite SQL Server / Oracle / Postgres perform from declared PKs.
  *
  * Spark has no constraint catalog, so [[UniqueKeys]] carries one:
  * declarations are keyed by the scan's file-system path (the identity
  * [[graft.Tables]] hands out), and [[EliminateUniqueKeyLeftJoin]]
  * consumes them inside the operator-optimization fixed point — nested
  * star joins unwrap outside-in, one probe per iteration. Like any
  * optimizer rule it can be listed in `spark.sql.optimizer.excludedRules`
  * (the parity specs do, to force the physical join).
  */
object UniqueKeys {
  /** normalized path (scheme-stripped URI path) -> declared unique KEYS,
    * each a column-name set that is unique TOGETHER (singleton set = the
    * classic single-column PK/UNIQUE; multi-column set = a composite key)
    */
  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, Set[Set[String]]]()

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Declare `cols` as each INDIVIDUALLY unique in the table at `path`
    * (n singleton keys — the DDL shape `UNIQUE(a), UNIQUE(b)`).
    * Informational only: the engine TRUSTS the declaration, exactly like
    * an RDBMS trusts (and enforces) a PRIMARY KEY. Re-declaration
    * overwrites every key (composite ones included) for the path.
    */
  def declare(path: String, cols: Set[String]): Unit =
    byPath.put(normalize(path), cols.map(Set(_)))

  /** Declare the columns of `key` as unique TOGETHER (a composite
    * PRIMARY KEY / UNIQUE constraint — `UNIQUE(a, b)`); column order is
    * irrelevant to uniqueness and not retained. ADDS to the path's
    * declarations (a table routinely carries one PK plus several UNIQUE
    * constraints); [[declare]] and [[undeclare]] reset them.
    */
  def declareComposite(path: String, key: Seq[String]): Unit = {
    require(key.nonEmpty, "declareComposite: key must name at least one column")
    byPath.merge(normalize(path), Set(key.toSet), (a, b) => a ++ b)
  }

  /** Drop declarations under `pathPrefix` (or all, with no prefix).
    * [[graft.Tables.invalidate]] calls this so overwriting a declared
    * path with new data cannot leave a stale constraint feeding the
    * optimizer — the REFRESH TABLE analogue for the constraint catalog.
    */
  def undeclare(pathPrefix: Option[String] = None): Unit = pathPrefix match {
    case Some(p) => byPath.keySet.removeIf(within(_, p))
    case None => byPath.clear()
  }

  /** Whether `path` is `dir` or lies under it, on directory boundaries:
    * `/data/foo` covers `/data/foo/t.parquet` but not `/data/foobar`.
    */
  private[graft] def within(path: String, dir: String): Boolean = {
    val (p, d) = (normalize(path), normalize(dir).stripSuffix("/"))
    p == d || p.startsWith(d + "/")
  }

  /** The path's SINGLE-column unique declarations (compatibility view of
    * [[keysFor]]): columns unique on their own.
    */
  def colsFor(path: String): Set[String] =
    keysFor(path).collect { case k if k.size == 1 => k.head }

  /** Every declared unique key (column-name set) for the table at `path`. */
  def keysFor(path: String): Set[Set[String]] =
    byPath.getOrDefault(normalize(path), Set.empty)

  /** Unique KEYS of `plan`'s output — each returned [[AttributeSet]] is a
    * set of output attributes that are unique TOGETHER — traced to scan
    * declarations through the operators that preserve key uniqueness:
    * projection/aliasing (a key survives only if EVERY member column is
    * still projected), row-subsetting (filter, limit, semi/anti join —
    * removing rows cannot create duplicates), ordering, repartitioning,
    * and subquery aliasing. Grouping CREATES uniqueness: an `Aggregate`
    * emits each distinct grouping TUPLE exactly once, so when every
    * grouping expression has an output column, that column set is a key
    * by construction regardless of the child — the single-expression
    * case (the optimizer's form of GROUP BY one key, DISTINCT over one
    * column, dropDuplicates on one key) falls out as a singleton.
    */
  def uniqueKeySets(plan: LogicalPlan): Seq[AttributeSet] = plan match {
    case Project(projList, child) =>
      uniqueKeySets(child).flatMap { key =>
        val outs = key.toSeq.map { a =>
          projList.collectFirst {
            case ar: AttributeReference if ar.exprId == a.exprId => ar
            case al @ Alias(ar: AttributeReference, _)
                if ar.exprId == a.exprId => al.toAttribute
          }
        }
        if (outs.forall(_.isDefined)) Some(AttributeSet(outs.flatten))
        else None
      }
    case Filter(_, child) => uniqueKeySets(child)
    case SubqueryAlias(_, child) => uniqueKeySets(child)
    case r: RepartitionOperation => uniqueKeySets(r.child)
    case s: Sort => uniqueKeySets(s.child)
    case l: GlobalLimit => uniqueKeySets(l.child)
    case l: LocalLimit => uniqueKeySets(l.child)
    case j @ Join(left, _, LeftSemi | LeftAnti, _, _) =>
      // output rows are a subset of left's rows with left's schema
      uniqueKeySets(left)
    case Aggregate(gExprs, aggExprs, _, _) if gExprs.nonEmpty =>
      // the full grouping tuple is emitted once per distinct value; the
      // key materializes only if every grouping expression has an output
      // column (a dropped grouping column would leave apparent duplicates)
      val outs = gExprs.map { g =>
        aggExprs.collectFirst {
          case a: AttributeReference if a.semanticEquals(g) => a
          case al @ Alias(c, _) if c.semanticEquals(g) => al.toAttribute
        }
      }
      if (outs.forall(_.isDefined)) Seq(AttributeSet(outs.flatten)) else Nil
    case d @ Deduplicate(keys, _) if keys.forall(_.isInstanceOf[AttributeReference]) =>
      val outs = keys.map(k => d.output.find(_.semanticEquals(k)))
      if (outs.forall(_.isDefined)) Seq(AttributeSet(outs.flatten)) else Nil
    case rel: LogicalRelation => rel.relation match {
      // honor declarations only for SINGLE-path scans: a relation built
      // over several paths (spark.read.parquet(a, b)) can collide keys
      // across paths, so a per-path PK proves nothing about the union
      case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
        fs.location.rootPaths.flatMap(p => keysFor(p.toString)).toSeq
          .flatMap { keyNames =>
            val attrs = keyNames.toSeq.map(n => rel.output.find(_.name == n))
            if (attrs.forall(_.isDefined)) Some(AttributeSet(attrs.flatten))
            else None
          }
      case _ => Nil
    }
    case _ => Nil
  }

  /** Compatibility view of [[uniqueKeySets]]: attributes unique on their
    * own (the singleton keys).
    */
  def uniqueOutputAttrs(plan: LogicalPlan): AttributeSet =
    AttributeSet(uniqueKeySets(plan).filter(_.size == 1).flatMap(_.toSeq))
}

/** Remove outer joins that provably contribute nothing: the join
  * condition's equi-conjuncts bind dim attributes that COVER some
  * declared unique key of the other side (a single-column key bound by
  * one conjunct, or a composite key with every member column bound),
  * and the consuming operator directly above the join reads only
  * preserved-side columns.
  * Soundness: a fully-bound unique key bounds matches at one — any
  * further conjuncts can only reject that single candidate, never add
  * matches — the outer join forbids dropping preserved rows, and the
  * unreferenced join output makes match-vs-null-extension unobservable.
  * So the join is row- and value-identity on everything the query can
  * see, under ANY filtering of the other side — which also preserves
  * aggregates bit-exactly, `count(*)` included, so the consumer may be
  * a [[Project]] OR an [[Aggregate]] sitting directly on the join
  * (Catalyst's column pruning inserts no Project between an Aggregate
  * and its join child, so matching Project alone misses the
  * `GROUP BY fact.x` star shapes). LEFT OUTER preserves the left side;
  * RIGHT OUTER is the mirror. See [[UniqueKeys]].
  */
object EliminateUniqueKeyLeftJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p @ Project(projList, j: Join) =>
        preservedSide(j, AttributeSet(projList.flatMap(_.references)))
          .map(side => p.copy(child = side)).getOrElse(p)
      case a @ Aggregate(gExprs, aExprs, j: Join, _) =>
        preservedSide(j, AttributeSet((gExprs ++ aExprs).flatMap(_.references)))
          .map(side => a.copy(child = side)).getOrElse(a)
    }

  /** The join's preserved side, when `refs` read only that side and the
    * other side's key is declared unique under the join condition.
    */
  private def preservedSide(j: Join, refs: AttributeSet): Option[LogicalPlan] =
    j match {
      case Join(left, right, LeftOuter, Some(cond), _)
          if refs.subsetOf(left.outputSet) && cond.deterministic &&
            hasUniqueConjunct(probe = left, dim = right, cond) =>
        Some(left)
      case Join(left, right, RightOuter, Some(cond), _)
          if refs.subsetOf(right.outputSet) && cond.deterministic &&
            hasUniqueConjunct(probe = right, dim = left, cond) =>
        Some(right)
      case _ => None
    }

  private def hasUniqueConjunct(probe: LogicalPlan, dim: LogicalPlan,
                                cond: Expression): Boolean = {
    // a streaming dim's grouped "uniqueness" holds per micro-batch, not
    // across the incremental result evolution — don't reason about it
    if (dim.isStreaming) return false
    val keys = UniqueKeys.uniqueKeySets(dim)
    if (keys.isEmpty) return false
    // dim attributes bound by equality to a probe value: each such
    // conjunct fixes one dim column per probe row, so any declared key
    // FULLY COVERED by the bound set admits at most one dim match per
    // probe row (partial coverage proves nothing — a two-column key with
    // one column bound can still match many rows)
    val bound = AttributeSet(splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (probe.outputSet.contains(a) && dim.outputSet.contains(b)) Seq(b)
        else if (probe.outputSet.contains(b) && dim.outputSet.contains(a)) Seq(a)
        else Nil
      case _ => Nil
    })
    keys.exists(_.subsetOf(bound))
  }
}
