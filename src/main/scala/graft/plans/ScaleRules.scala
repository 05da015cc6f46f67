package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** Single source of truth for the scale-gate vocabulary and the
  * contraction / row-bound proofs (round-7: previously GradedPlans on
  * the test side owned the canonical copy and a main-side dev probe
  * carried a hand-synced mirror that had drifted — the probe silently
  * under-flagged the alias-funnel class the round-6 promotion was
  * built to catch). The build-failing gate suites (GlobalWindowSpec /
  * GlobalJoinSpec / GlobalFunnelSpec via GradedPlans) consume THIS
  * object, so a vocabulary promotion lands in every consumer at once.
  *
  * Scale model these proofs encode: the graded fixtures are
  * TPC-H-shaped (spec-constant domains: 25 nations, 5 regions, 5
  * segments, ~5 event types …) plus corpus-proportional tables
  * (lineitem/orders/events/documents/embeddings). A plan shape is a
  * FUNNEL when fact-scale rows are routed through |bounded-domain|
  * tasks — a window partitioned by, a join shuffled on, or a global
  * sort ranged on only bounded-domain keys over input that no
  * operator contracted first.
  */
object ScaleRules {

  /** Fixture columns whose domain is bounded by a small constant at
    * ANY scale factor (TPC-H spec constants / TESTDATA generators),
    * including the aliases graded queries give them. Shared by every
    * gate that reasons about per-key funnels: a partition spec, join
    * key set, or sort key set containing at least one column NOT in
    * this set is assumed scale-parallel and skipped. */
  val lowCardNames: Set[String] = Set(
    "event_type", "o_orderpriority", "pri", "lang", "l_returnflag",
    "l_linestatus", "o_orderstatus", "c_mktsegment", "source", "split",
    "flag", "grp", "arm", "cohort", "band", "is_weekend", "label",
    // TPC-H spec constants: 25 nations, 5 regions, 25 brands, 5
    // segments — a 25-way funnel is still a funnel at 100 TB
    "n_name", "n_nationkey", "r_name", "r_regionkey", "p_brand",
    "brand", "p_mfgr", "nation", "region", "mktsegment", "seg",
    "status", "p_container", "shipmode", "l_shipmode",
    // round-6 continuation promotion: the graded queries'
    // constant-domain aliases — event_type as t/a/b, calendar
    // day/dow/wk, embedding dim pos, fixed grids — are funnels too
    // when they key a window/join over uncontracted facts
    "t", "a", "b", "pos", "cluster", "lab", "bin", "decile", "dose",
    "era", "wk", "dow", "wd", "day", "week", "lang_p",
    // round-7 (verdict): the nation-key aliases that let q_fs_linkage's
    // O(n²/25) nation-blocked self-join and q_lof's label-only block
    // escape the round-6 gates — nationkey copies on fact tables, the
    // toDF-renamed forms the graded queries use, and the nation-graph
    // edge endpoints (na/nb — renamed from src/dst this round so they
    // stop colliding with the corpus-growing doc/user-graph endpoints)
    "c_nationkey", "s_nationkey", "nk", "nk2", "labelb", "na", "nb")

  /** Constant-domain alias names accepted by [[boundedLogical]]'s
    * Aggregate rule IN ADDITION to [[lowCardNames]] — the RESIDUAL
    * name trust for computed keys no structural rule can yet prove,
    * each entry carrying a MACHINE-CHECKED justification
    * (ScaleRulesSpec pins the exact key set, that every justification
    * names its producing query and states the image bound, and that
    * the set cannot silently grow). Scoped to the logical bound only
    * (NOT the funnel gates' key checks, whose lowCardNames widening
    * is a separate decision per gate).
    *
    * Round-11 (verdict item 2) retired SEVEN of the nine round-10
    * entries structurally:
    *  - b0-b2 / p0-p2 (sketch bucket indices): [[boundedValueExpr]]'s
    *    new Md5Bucket image rule — `md5_bucket(_, m)` has image
    *    ⊆ {0..m−1} by construction for LITERAL m, whatever the key
    *    (CMS width 1024, bloom m = 4096 are compile-time literals);
    *  - lang_p: a plain grouping-key alias of the base column `lang`
    *    — the origin walkers resolve it to the physical column, which
    *    lowCardNames + measured NDV already carry (the vocabulary
    *    entry was vestigial name trust).
    * (`bal` = floor(c_acctbal/1000) was retired in round 10 by the
    * measured-interval rule.) */
  val boundedAliasJustifications: Map[String, String] = Map.empty
  // Round-12 (verdict item 7): the vocabulary is EMPTY — the last two
  // entries retired structurally.
  //  - `mask` (q_shapley/q_coalition_value): the bitmask aggregate is
  //    bit_or now, and the BitOrAgg image rule in [[boundedValueExpr]]
  //    carries it — OR of values in [0, h] stays ⊆ [0, 2^bits(h)−1]
  //    whatever the row count (sum, the previous form, has no such
  //    type-level bound, which is exactly why the name needed trust).
  //  - `dig` (q_fs_linkage): the digit suffix is parsed to INT now,
  //    and the fixed-length-substring-cast rule carries it — any
  //    ≤2-char slice parses to NULL or an integer in [−9, 99], a
  //    bound that is a property of decimal parsing, not of the data.

  val boundedAliasNames: Set[String] = boundedAliasJustifications.keySet

  /** Column names whose cardinality GROWS with the corpus/SF (vocab
    * tokens, document/user/part identities): a per-one-of-these map is
    * the frame class that must never be hint-force-broadcast — at
    * 100 TB it is GBs while a hint pins the broadcast strategy at
    * every scale. */
  val growingNames: Set[String] = Set(
    "tok", "token", "term", "doc_id", "user_id", "u", "node",
    "l_partkey", "p_partkey", "o_custkey", "c_custkey",
    "o_orderkey", "l_orderkey", "event_id", "vec_id")

  /** True when every row reaching this subtree's output passed
    * through a row-contracting operator (aggregate, limit, rank
    * limit) or comes from a constant-size source — i.e. an operator
    * above it does NOT see raw fact-scale rows. Joins/unions stay
    * contracted only if ALL inputs are. Conservative in the right
    * direction for a gate — with one structural exception closed in
    * round 7: an RDD-scan leaf planted by `localCheckpoint` consults
    * [[CheckpointRegistry]] for the pre-checkpoint logical plan and
    * carries ITS contraction verdict, instead of relying on a source
    * comment + allowlist entry. */
  def contractedBelow(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      val path = f.relation.location.rootPaths.mkString(",")
      path.contains("nation") || path.contains("region")
    case r: org.apache.spark.sql.execution.RangeExec =>
      r.numElements <= BigInt(65536)
    case r: org.apache.spark.sql.execution.RDDScanExec =>
      CheckpointRegistry.lookup(r.rdd.id).exists(contractedLogical)
    // persisted frames: recurse into the cached subtree's physical
    // plan — a .persist() must not turn a contracted frame opaque
    // (round-7: the nation-graph builders all cache their edge frames)
    case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      contractedBelow(s.relation.cachedPlan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      contractedBelow(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      contractedBelow(q.plan)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      contractedBelow(j.left) && contractedBelow(j.right)
    case u: org.apache.spark.sql.execution.UnionExec =>
      u.children.forall(contractedBelow)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      contractedBelow(r.child)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(contractedBelow)
  }

  /** Logical twin of [[contractedBelow]]: every row out of this
    * subtree passed a row-contracting operator or a constant-size
    * source. Used where only the optimized LOGICAL plan is available
    * (strategy-blind join-funnel gating, checkpointed-subtree
    * verdicts — the physical plan under a checkpoint leaf is gone). */
  def contractedLogical(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Aggregate => true
      case _: GlobalLimit | _: LocalLimit => true
      case _: WindowGroupLimit => true
      case f: Filter if rankLimitedFilter(f) => true
      case _: OneRowRelation => true
      case l: LocalRelation => l.data.size <= 65536
      case r: Range => r.numElements <= BigInt(65536)
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val path = rel.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case _ => ""
        }
        path.contains("nation") || path.contains("region")
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        CheckpointRegistry.lookup(l.rdd.id).exists(contractedLogical)
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        contractedBelow(m.cachedPlan)
      case j: Join => contractedLogical(j.left) && contractedLogical(j.right)
      case u: Union => u.children.forall(contractedLogical)
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(contractedLogical)
    }
  }

  /** A filter comparing a row_number()/rank() window column to a
    * small literal, where the window's partition keys are all bounded
    * domains, caps rows at k·|partitions| (the top-k-per-group shape:
    * q_lang_id's top-5 profile, q_tail_index's rn=50). */
  private def rankLimitedFilter(
      f: org.apache.spark.sql.catalyst.plans.logical.Filter): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val rankAttrs: Set[ExprId] = f.child.collect {
      // partition keys grounded through the window's own child
      // (round-10): a resolvable key proves by its physical column,
      // a derived key keeps the alias-name convention
      case w: Window if w.partitionSpec.forall {
          case att: Attribute => boundedDomainAttr(att, resolveL(w.child))
          case _ => false
        } =>
        w.windowExpressions.collect {
          case al: Alias if al.child.exists {
              case we: WindowExpression =>
                we.windowFunction.isInstanceOf[RowNumber] ||
                  we.windowFunction.isInstanceOf[Rank]
              case _ => false
            } => al.exprId
        }
    }.flatten.toSet
    def small(l: Literal): Boolean = l.value match {
      case v: Int => v <= 65536
      case v: Long => v <= 65536L
      case _ => false
    }
    // round-9 ADVICE: top-level conjuncts only — `rn = 1 OR x`
    // does not cap rows
    rankAttrs.nonEmpty && conjunctsOf(f.condition).exists {
      case EqualTo(att: Attribute, l: Literal) =>
        rankAttrs(att.exprId) && small(l)
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
        att: Attribute, l: Literal) => rankAttrs(att.exprId) && small(l)
      case org.apache.spark.sql.catalyst.expressions.LessThan(
        att: Attribute, l: Literal) => rankAttrs(att.exprId) && small(l)
      case _ => false
    }
  }

  // ------------------------------------------------------------------
  // Round-9 (ADVICE, medium): lineage-aware bounded-key proofs.
  //
  // The previous literallyBounded / literallyBoundedPhys /
  // aliasBoundedPhys matched by exprId OR BARE NAME over filter/alias
  // expressions collected from ANYWHERE below the aggregate —
  // including other join branches — so a same-named but unrelated
  // attribute filtered elsewhere in the tree could falsely prove a
  // grouping key bounded (and the laxity fired accidentally, not just
  // adversarially). The walkers below track the key's exprId through
  // the plan instead: remapped through Project/Aggregate aliases,
  // POSITIONALLY through checkpoint leaves (CheckpointRegistry
  // interiors keep their own exprIds — DeduplicateRelations
  // re-instances a reused checkpoint's output ids) and cached
  // subtrees, per-branch through unions, and only into the join side
  // that actually outputs the key. A Filter counts only when a
  // TOP-LEVEL CONJUNCT pins the tracked id to a literal domain
  // (ADVICE, low: an equality under OR / NOT is not a pin).
  // ------------------------------------------------------------------

  /** Top-level conjuncts of a predicate. */
  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  private def attrIdOf(e: Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.ExprId] = e match {
    case a: Attribute => Some(a.exprId)
    case c: org.apache.spark.sql.catalyst.expressions.Cast => attrIdOf(c.child)
    case k: org.apache.spark.sql.catalyst.expressions.KnownFloatingPointNormalized =>
      attrIdOf(k.child)
    case n: org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero =>
      attrIdOf(n.child)
    case al: org.apache.spark.sql.catalyst.expressions.Alias =>
      attrIdOf(al.child)
    case _ => None
  }

  private type Ids = Set[org.apache.spark.sql.catalyst.expressions.ExprId]

  // ------------------------------------------------------------------
  // Round-10 (verdict item 1): ORIGIN-GROUNDED vocabulary trust.
  //
  // The bounded-domain / non-negativity / fixture-PK vocabularies
  // previously accepted by bare column NAME — a user column aliased
  // onto `o_totalprice` made `least(k, floor(x/c))` "provably" bounded
  // even over negative data (the documented spoof caveat). The proofs
  // now trace the attribute through the plan's own lineage to the
  // PHYSICAL fixture column it copies ([[originOfL]]/[[originOfP]]):
  // trust attaches to that column's name, and — when the gate JVM has
  // loaded [[ColumnFacts]] from the graded parquet — the column's
  // MEASURED facts must corroborate the claim (min ≥ 0 for the
  // non-negativity contract, NDV ≤ cap for low cardinality, NDV = rows
  // for PK uniqueness). The vocabularies remain as scale knowledge
  // (graded-SF data cannot prove a domain stays constant at 100 TB),
  // but they are a cross-checked claim, not the proof. Residual name
  // trust survives ONLY for attributes with no base origin (computed /
  // hoisted grouping keys, whose alias vocabulary exists precisely for
  // derived columns) — documented, and spoof-pinned in ScaleRulesSpec.
  // ------------------------------------------------------------------

  private type Origin = (String, String) // (fixture table, column)
  private type Resolver = Attribute => Option[Origin]

  /** The graded-fixture origin of attribute `id` within `plan`'s own
    * lineage: Some((table, column)) when the attribute is a renamed /
    * cast-wrapped copy of a column scanned from a graded parquet
    * table — traced through Project/Aggregate aliases, positionally
    * through checkpoint leaves (via [[CheckpointRegistry]]) and cached
    * subtrees, per-branch through unions (all branches must agree on
    * the same origin), and only into the child that outputs the id.
    * A computed expression (no single source attribute) has no
    * origin; an ambiguous trace returns None. Cast / NaN-normalize
    * wrappers are looked through ([[attrIdOf]]) for VALUE facts (sign,
    * cardinality-no-greater-than) — a `unique = true` trace uses
    * [[attrIdOfStrict]] instead, refusing them (a narrowing cast or
    * NaN/−0.0 normalization collapses distinct keys) and refusing
    * every row-multiplying operator ([[rowSafeL]]/[[rowSafeP]]). */
  /** Operators a UNIQUENESS trace may cross (round-10 review): value
    * facts (sign, domain-no-wider-than) survive any operator the
    * origin walkers traverse, but uniqueness does NOT survive
    * row-MULTIPLYING operators — a PK column fanned out by a join or
    * a generate repeats, so an equality pin above it is no 1-row
    * fetch. `rowSafe` = the operator can only KEEP or DROP input rows
    * (filter/sort/limit/window/repartition/dedup/alias), never copy
    * them. Joins, generates, unions, expands, and aggregates (a
    * multi-key grouping repeats a single key's values) are excluded;
    * unknown operators conservatively excluded. */
  private def rowSafeL(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Filter | _: Sort | _: GlobalLimit | _: LocalLimit |
           _: Window | _: SubqueryAlias | _: Deduplicate |
           _: RepartitionOperation => true
      // sample WITH replacement duplicates rows — row-multiplying
      // (round-10 second review); without replacement it only drops
      case s: Sample => !s.withReplacement
      case _ => false
    }
  }

  private def rowSafeP(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.FilterExec |
         _: org.apache.spark.sql.execution.SortExec |
         _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.window.WindowExec |
         _: org.apache.spark.sql.execution.window.WindowGroupLimitExec |
         _: org.apache.spark.sql.execution.WholeStageCodegenExec |
         _: org.apache.spark.sql.execution.InputAdapter |
         _: org.apache.spark.sql.execution.ColumnarToRowExec |
         _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec |
         _: org.apache.spark.sql.execution.CoalesceExec => true
    case s: org.apache.spark.sql.execution.SampleExec => !s.withReplacement
    case _ => false
  }

  /** Alias-only id chase for UNIQUENESS traces: [[attrIdOf]] looks
    * through Cast and NaN-normalization wrappers, which preserve the
    * value facts (sign, domain-no-wider) but NOT uniqueness — a
    * narrowing cast collapses distinct PK values (tinyint wraparound
    * maps every 256th id together) and NaN/−0.0 normalization merges
    * distinct doubles (round-10 second review). */
  private def attrIdOfStrict(e: Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.ExprId] = e match {
    case a: Attribute => Some(a.exprId)
    case al: org.apache.spark.sql.catalyst.expressions.Alias =>
      attrIdOfStrict(al.child)
    case _ => None
  }

  private[graft] def originOfL(
      id: org.apache.spark.sql.catalyst.expressions.ExprId,
      plan: LogicalPlan,
      unique: Boolean = false): Option[Origin] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, Union}
    plan match {
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.output.find(_.exprId == id).flatMap { att =>
          rel.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              ScanCensus.tableOfPaths(fs.location.rootPaths).map(t => (t, att.name))
            case _ => None
          }
        }
      case p: Project =>
        val idOf = if (unique) attrIdOfStrict _ else attrIdOf _
        p.projectList.find(_.exprId == id) match {
          case Some(al: Alias) =>
            idOf(al.child).flatMap(originOfL(_, p.child, unique))
          case Some(att: Attribute) => originOfL(att.exprId, p.child, unique)
          case _ => None
        }
      case a: Aggregate if !unique =>
        a.aggregateExpressions.find(_.exprId == id) match {
          case Some(al: Alias) =>
            attrIdOf(al.child).flatMap(originOfL(_, a.child))
          case Some(att: Attribute) => originOfL(att.exprId, a.child)
          case _ => None
        }
      case u: Union if !unique =>
        val pos = u.output.indexWhere(_.exprId == id)
        if (pos < 0) None
        else {
          val os = u.children.map(c =>
            if (pos < c.output.size) originOfL(c.output(pos).exprId, c) else None)
          if (os.nonEmpty && os.head.isDefined && os.forall(_ == os.head)) os.head
          else None
        }
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        CheckpointRegistry.lookup(l.rdd.id).flatMap { interior =>
          val pos = l.output.indexWhere(_.exprId == id)
          if (pos >= 0 && pos < interior.output.size)
            originOfL(interior.output(pos).exprId, interior, unique)
          else None
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val pos = m.output.indexWhere(_.exprId == id)
        if (pos >= 0 && pos < m.cachedPlan.output.size)
          originOfP(m.cachedPlan.output(pos).exprId, m.cachedPlan, unique)
        else None
      // a unique-mode trace may only cross row-KEEP/DROP operators
      // (round-10 review: a join/generate above the base scan copies
      // PK values, so an equality pin above the fan-out is NOT a
      // 1-row fetch; a multi-key aggregate repeats a single key's
      // values; union branches collide) — value-fact traces cross
      // anything that outputs the id
      case other if !unique || rowSafeL(other) =>
        other.children.find(_.outputSet.exists(_.exprId == id))
          .flatMap(originOfL(id, _, unique))
      case _ => None
    }
  }

  /** PHYSICAL twin of [[originOfL]]. */
  private[graft] def originOfP(
      id: org.apache.spark.sql.catalyst.expressions.ExprId,
      p: SparkPlan,
      unique: Boolean = false): Option[Origin] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.output.find(_.exprId == id).flatMap(att =>
          ScanCensus.tableOfPaths(f.relation.location.rootPaths)
            .map(t => (t, att.name)))
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        val idOf = if (unique) attrIdOfStrict _ else attrIdOf _
        pr.projectList.find(_.exprId == id) match {
          case Some(al: Alias) =>
            idOf(al.child).flatMap(originOfP(_, pr.child, unique))
          case Some(att: Attribute) => originOfP(att.exprId, pr.child, unique)
          case _ => None
        }
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if !unique =>
        a.resultExpressions.find(_.exprId == id) match {
          case Some(al: Alias) => attrIdOf(al.child).flatMap(originOfP(_, a.child))
          case Some(att: Attribute) => originOfP(att.exprId, a.child)
          case _ => None
        }
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        CheckpointRegistry.lookup(r.rdd.id).flatMap { interior =>
          val pos = r.output.indexWhere(_.exprId == id)
          if (pos >= 0 && pos < interior.output.size)
            originOfL(interior.output(pos).exprId, interior, unique)
          else None
        }
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        val pos = s.relation.output.indexWhere(_.exprId == id)
        if (pos >= 0 && pos < s.relation.cachedPlan.output.size)
          originOfP(s.relation.cachedPlan.output(pos).exprId,
            s.relation.cachedPlan, unique)
        else None
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        originOfP(id, a.executedPlan, unique)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        originOfP(id, q.plan, unique)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        val pos = r.output.indexWhere(_.exprId == id)
        if (pos >= 0 && pos < r.child.output.size)
          originOfP(r.child.output(pos).exprId, r.child, unique)
        else None
      case u: org.apache.spark.sql.execution.UnionExec if !unique =>
        val pos = u.output.indexWhere(_.exprId == id)
        if (pos < 0) None
        else {
          val os = u.children.map(c =>
            if (pos < c.output.size) originOfP(c.output(pos).exprId, c) else None)
          if (os.nonEmpty && os.head.isDefined && os.forall(_ == os.head)) os.head
          else None
        }
      case other if !unique || rowSafeP(other) =>
        other.children.find(_.outputSet.exists(_.exprId == id))
          .flatMap(originOfP(id, _, unique))
      case _ => None
    }
  }

  private def resolveL(p: LogicalPlan): Resolver = att => originOfL(att.exprId, p)
  private def resolveP(p: SparkPlan): Resolver = att => originOfP(att.exprId, p)
  // uniqueness-preserving traces for the PK rules (round-10 review:
  // value facts survive joins/generates, uniqueness does not)
  private def uniqueResolveL(p: LogicalPlan): Resolver =
    att => originOfL(att.exprId, p, unique = true)
  private def uniqueResolveP(p: SparkPlan): Resolver =
    att => originOfP(att.exprId, p, unique = true)

  /** The [[lowCardNames]] entries that are PHYSICAL fixture columns
    * (TESTDATA / TPC-H schemas). A bounded-domain claim on one of
    * these requires a RESOLVED origin + ColumnFacts corroboration —
    * an origin-less attribute merely WEARING a base-column name
    * (a LocalRelation column named `lang`, an ambiguous union trace
    * named `n_name`) proves nothing (round-11 ADVICE: the spoof
    * closure extended beyond scan-rooted columns). ScaleRulesSpec
    * cross-checks this split against the loaded fixtures: every base
    * entry measures as a real column, no derived entry does. */
  val baseLowCardNames: Set[String] = Set(
    "event_type", "o_orderpriority", "lang", "l_returnflag",
    "l_linestatus", "o_orderstatus", "c_mktsegment", "source", "label",
    "n_name", "n_nationkey", "r_name", "r_regionkey", "p_brand",
    "c_nationkey", "s_nationkey")
  // NOTE: p_mfgr / p_container / l_shipmode are TPC-H spec-constant
  // NAMES with no column in this repo's fixture schemas (TESTDATA
  // ships a reduced TPC-H) — they stay on the derived side: a query
  // aliasing a computed mode/container key onto one of them gets the
  // spec-constant name trust, and no physical column exists for an
  // origin to resolve to.

  /** The derived-key complement: constant-domain alias names the
    * graded queries give COMPUTED keys (calendar parts, cluster ids,
    * fixed grids, bitmask/band labels). These are the only lowCard
    * names an origin-less attribute may claim — they never name a
    * fixture column, so no origin can exist for them by construction. */
  val derivedLowCardNames: Set[String] = lowCardNames -- baseLowCardNames

  private def vocabName(n: String): Boolean =
    lowCardNames.contains(n) || boundedAliasNames.contains(n)

  /** Name acceptance for attributes with NO physical origin: derived
    * alias vocabulary only (computed keys + the justified residue). */
  private def derivedName(n: String): Boolean =
    derivedLowCardNames.contains(n) || boundedAliasNames.contains(n)

  /** Bounded-domain verdict for a grouping / window-partition
    * attribute. Origin resolved → trust attaches to the PHYSICAL
    * column (vocabulary membership of its real name, and measured
    * NDV ≤ [[ColumnFacts.LowCardCap]] when facts are loaded — a
    * vocabulary claim the data contradicts REJECTS). No origin
    * (computed / hoisted key, LocalRelation column, ambiguous union
    * trace) → residual name trust over the attribute's own name plus
    * `fallbackNames` (the agg-list aliases a hoisted grouping
    * expression answers to), but ONLY against the derived-key
    * vocabulary ([[derivedLowCardNames]] ∪ [[boundedAliasNames]] —
    * round-11 ADVICE: an origin-less attribute merely WEARING a
    * base-column name like `lang` or `n_name` proves nothing;
    * base-column entries require a resolved origin + data
    * corroboration, and the derived names never name a fixture
    * column, so no origin can exist for them by construction). */
  private def boundedDomainAttr(att: Attribute, resolve: Resolver,
      fallbackNames: Seq[String] = Nil): Boolean =
    resolve(att) match {
      case Some((t, c)) =>
        vocabName(c) &&
          ColumnFacts.corroborated(t, c)(_.lowCard(ColumnFacts.LowCardCap))
      case None =>
        (att.name +: fallbackNames).exists(derivedName)
    }

  /** Fixture unique-row-key names (TESTDATA contract): an equality pin
    * on one is a 1-row fetch. A PK claim REQUIRES a resolved base
    * origin (no name fallback — uniqueness is a fact about a physical
    * column, never about an alias), cross-checked against measured
    * NDV = rows when [[ColumnFacts]] is loaded. */
  private val fixturePkNames = Set("vec_id", "doc_id", "event_id")

  /** `requireNonNeg`: the `< k` RANGE form of the PK rule bounds rows
    * at k only when the key cannot be negative (`key < 65536` admits
    * every negative id) — cross-checked against measured parquet min
    * (round-10 second review); the equality form needs no sign. */
  private def fixturePkAttr(att: Attribute, resolve: Resolver,
      requireNonNeg: Boolean = false): Boolean =
    resolve(att).exists { case (t, c) =>
      fixturePkNames.contains(c) &&
        ColumnFacts.corroborated(t, c)(f =>
          f.unique && (!requireNonNeg || f.nonNegative))
    }

  /** A top-level conjunct pinning one of `ids` to a literal domain. */
  private def literalPin(ids: Ids, cond: Expression): Boolean =
    conjunctsOf(cond).exists {
      case In(att: Attribute, vs) =>
        ids(att.exprId) && vs.forall(_.isInstanceOf[Literal])
      case InSet(att: Attribute, _) => ids(att.exprId)
      case EqualTo(att: Attribute, _: Literal) => ids(att.exprId)
      case EqualTo(_: Literal, att: Attribute) => ids(att.exprId)
      case _ => false
    }

  /** Fixture columns that are NON-NEGATIVE by the TPC-H spec /
    * TESTDATA generator contract (c_acctbal is NOT: CBAL reaches
    * −999.99). Feeds [[boundedValueExpr]]'s least-rule: the only
    * reason `least(4, floor(o_totalprice/1e5))` has a finite image is
    * that prices cannot go below 0 — previously a prose argument
    * carried by two allowlist entries (round-8 verdict item 4).
    * Round-10 (verdict item 1): membership here is no longer
    * sufficient — the claiming attribute must RESOLVE to the physical
    * fixture column ([[originOfL]]/[[originOfP]]) and the loaded
    * [[ColumnFacts]] must show parquet min ≥ 0. This set is the SPEC
    * half of the proof (graded-SF data cannot promise 100 TB sign
    * behavior); the data is the cross-check. */
  val nonNegativeNames: Set[String] = Set(
    "o_totalprice", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "p_retailprice", "p_size")

  /** Provably ≥ 0: non-negative literals, contract-non-negative
    * fixture columns, and closure under floor/cast/abs/+/·/÷ (every
    * operand must be non-negative — division keeps sign).
    * Round-10 (verdict item 1): an attribute claim must RESOLVE to a
    * physical fixture column carrying the contract ([[originOfL]]),
    * and the loaded [[ColumnFacts]] must corroborate (parquet
    * min ≥ 0) — an alias onto `o_totalprice` proves nothing now. */
  private def nonNegativeExpr(e: Expression, resolve: Resolver): Boolean =
    e match {
      case Literal(v: Number, _) => v.doubleValue >= 0
      case Literal(v: java.math.BigDecimal, _) => v.signum >= 0
      case Literal(v: org.apache.spark.sql.types.Decimal, _) =>
        v.toBigDecimal.signum >= 0
      case att: Attribute =>
        resolve(att).exists { case (t, c) =>
          nonNegativeNames.contains(c) &&
            ColumnFacts.corroborated(t, c)(_.nonNegative)
        }
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        nonNegativeExpr(c.child, resolve)
      case f: org.apache.spark.sql.catalyst.expressions.Floor =>
        nonNegativeExpr(f.child, resolve)
      case c: org.apache.spark.sql.catalyst.expressions.Ceil =>
        nonNegativeExpr(c.child, resolve)
      case _: org.apache.spark.sql.catalyst.expressions.Abs => true
      case m: org.apache.spark.sql.catalyst.expressions.Multiply =>
        nonNegativeExpr(m.left, resolve) && nonNegativeExpr(m.right, resolve)
      case d: org.apache.spark.sql.catalyst.expressions.Divide =>
        nonNegativeExpr(d.left, resolve) && nonNegativeExpr(d.right, resolve)
      case a: org.apache.spark.sql.catalyst.expressions.Add =>
        nonNegativeExpr(a.left, resolve) && nonNegativeExpr(a.right, resolve)
      case _ => false
    }

  private def smallIntLiteral(e: Expression): Boolean = e match {
    case Literal(v: Int, _) => v >= 0 && v <= 65536
    case Literal(v: Long, _) => v >= 0L && v <= 65536L
    case Literal(v: Short, _) => v >= 0
    case Literal(v: Byte, _) => v >= 0
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      smallIntLiteral(c.child)
    case _ => false
  }

  /** An expression with a provably FINITE small image — the alias
    * values a grouping key may take: literals, literal-valued CASE
    * chains, any deterministic function of bounded-domain /
    * DATE-typed inputs, and (round-9, verdict item 4)
    * `least(k, e₁…)` where k is a small non-negative integer literal
    * and every operand is provably non-negative integer-valued —
    * image ⊆ {0..k}, the ordinal-grid price-band key. */
  /** Literal trunc units whose image is calendar-bounded: a
    * day-or-coarser truncation of ANY timestamp/date has at most
    * |horizon in days| distinct values — fixed by the time horizon,
    * not the corpus, the same argument the DATE-typed-key rule
    * already encodes (round-10: closes the timestamp_ntz vintage gap
    * — `date_trunc("day", o_orderdate)` groups a TIMESTAMP key the
    * DateType rule could never see; structurally grounded, no name
    * trust). Hour/minute/second stay excluded: sub-day grids multiply
    * the horizon by 24-86400×.
    *
    * HORIZON BOUND this rule assumes (round-11 ADVICE — made
    * explicit): "bounded" here means horizon-proportional, NOT
    * ≤ [[ColumnFacts.LowCardCap]]. A day grid over the TPC-H 7-year
    * horizon is ~2.6k groups — far above the 128-NDV cap the sibling
    * interval rule enforces, and deliberately so: the cap guards
    * against corpus-growing domains, while a calendar grid's size is
    * fixed by the TIME HORIZON and does not grow with rows at fixed
    * horizon. This is the SAME convention the DateType-key rule has
    * carried since round 6 (a DATE-typed grouping key is accepted
    * uncapped), extended to the timestamp vintage. Consumers of the
    * resulting bound (broadcast decisions, bounded-build proofs) must
    * treat it as "O(|days in horizon|) rows", i.e. ≤ ~10⁴ for any
    * sane analysis horizon — not as "fits the low-card cap". A
    * measured-NDV corroboration is intentionally NOT applied: it
    * would reject every day grid (NDV ≈ 2.4k at sf0.01) and with it
    * the whole daily-series family the DateType rule already
    * admits. */
  private def truncUnitBounded(fmt: Expression): Boolean = fmt match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
      Set("year", "yyyy", "yy", "quarter", "month", "mon", "mm",
        "week", "day", "dd").contains(s.toString.toLowerCase)
    case _ => false
  }

  /** The integral types the grid-key proofs accept (one definition —
    * the interval rule and the least-rule must agree on what counts
    * as integer-valued). */
  private val integralTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.ByteType,
    org.apache.spark.sql.types.ShortType,
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.LongType)

  /** VALUE columns whose [min, max] is SF-INDEPENDENT by the TPC-H /
    * TESTDATA generator contract (prices, quantities, balances,
    * sizes). The SPEC half of the interval proof below — the measured
    * parquet min/max is the DATA half. Identity/key columns are
    * deliberately absent: their ranges grow with the corpus. */
  val sfStableRangeNames: Set[String] = Set(
    "o_totalprice", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "p_retailprice", "p_size", "c_acctbal", "s_acctbal")

  /** Measured-interval evaluator (round-10): Some((lo, hi)) when
    * every leaf of `e` is a numeric literal or an attribute whose
    * PHYSICAL fixture column has measured parquet min/max
    * (ColumnFacts — inert when facts are not loaded). Propagated
    * through the monotone arithmetic the grid keys use. Why graded-SF
    * intervals are valid scale proofs: TPC-H VALUE columns
    * (prices, quantities, balances, sizes) have SF-INDEPENDENT ranges
    * by spec construction — only identity columns grow, and their
    * intervals are too wide to pass the cap anyway. Division only by
    * a nonzero literal; casts only when the measured interval already
    * fits the target type (a narrowing cast that would wrap rejects). */
  private def valueInterval(e: Expression, resolve: Resolver)
      : Option[(Double, Double)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def fits(lo: Double, hi: Double, t: DataType): Boolean = t match {
      case ByteType => lo >= Byte.MinValue && hi <= Byte.MaxValue
      case ShortType => lo >= Short.MinValue && hi <= Short.MaxValue
      case IntegerType => lo >= Int.MinValue && hi <= Int.MaxValue
      case LongType => lo >= Long.MinValue && hi <= Long.MaxValue
      case _: DecimalType | FloatType | DoubleType => true
      case _ => false
    }
    e match {
      case Literal(v: Number, _) => Some((v.doubleValue, v.doubleValue))
      case Literal(d: org.apache.spark.sql.types.Decimal, _) =>
        Some((d.toDouble, d.toDouble))
      case att: Attribute =>
        // SPEC half: only VALUE columns whose [min, max] is
        // SF-INDEPENDENT by generator contract may feed an interval —
        // an IDENTITY column's interval is small at graded SF and
        // unbounded at 100 TB (floor(o_orderkey/1000) would "prove"
        // bounded from sf0.001 data and blow up in production)
        resolve(att).flatMap { case (t, c) =>
          if (!sfStableRangeNames.contains(c)) None
          else ColumnFacts.get(t, c).flatMap(f =>
            for { lo <- f.min; hi <- f.max } yield (lo, hi))
        }
      case c: Cast =>
        valueInterval(c.child, resolve)
          .filter { case (lo, hi) => fits(lo, hi, c.dataType) }
      case f: Floor =>
        valueInterval(f.child, resolve)
          .map { case (lo, hi) => (math.floor(lo), math.floor(hi)) }
      case c: Ceil =>
        valueInterval(c.child, resolve)
          .map { case (lo, hi) => (math.ceil(lo), math.ceil(hi)) }
      case u: UnaryMinus =>
        valueInterval(u.child, resolve).map { case (lo, hi) => (-hi, -lo) }
      case a: Add =>
        for { (l1, h1) <- valueInterval(a.left, resolve)
              (l2, h2) <- valueInterval(a.right, resolve) }
        yield (l1 + l2, h1 + h2)
      case s: Subtract =>
        for { (l1, h1) <- valueInterval(s.left, resolve)
              (l2, h2) <- valueInterval(s.right, resolve) }
        yield (l1 - h2, h1 - l2)
      case m: Multiply =>
        for { (l1, h1) <- valueInterval(m.left, resolve)
              (l2, h2) <- valueInterval(m.right, resolve) }
        yield {
          val ps = Seq(l1 * l2, l1 * h2, h1 * l2, h1 * h2)
          (ps.min, ps.max)
        }
      case d: Divide =>
        (valueInterval(d.left, resolve), d.right) match {
          case (Some((lo, hi)), Literal(v: Number, _)) if v.doubleValue != 0 =>
            val c = v.doubleValue
            Some(if (c > 0) (lo / c, hi / c) else (hi / c, lo / c))
          case _ => None
        }
      case l: Least =>
        l.children.map(valueInterval(_, resolve))
          .reduce((a, b) => for { (l1, h1) <- a; (l2, h2) <- b }
            yield (math.min(l1, l2), math.min(h1, h2)))
      case g: Greatest =>
        g.children.map(valueInterval(_, resolve))
          .reduce((a, b) => for { (l1, h1) <- a; (l2, h2) <- b }
            yield (math.max(l1, l2), math.max(h1, h2)))
      // round-12: a CASE's value is one of its branch values (or the
      // else, or NULL) — the hull of the branch intervals. A missing
      // else contributes no value (NULL never widens a numeric hull).
      case c: CaseWhen =>
        val arms = c.branches.map(b => valueInterval(b._2, resolve)) ++
          c.elseValue.map(valueInterval(_, resolve))
        if (arms.isEmpty || arms.exists(_.isEmpty)) None
        else {
          val hulls = arms.flatten
          Some((hulls.map(_._1).min, hulls.map(_._2).max))
        }
      case _ => None
    }
  }

  /** An INTEGRAL-typed expression whose measured interval admits at
    * most [[ColumnFacts.LowCardCap]] distinct values — the
    * data-grounded grid-key proof (e.g. `floor(c_acctbal/1000)` over
    * CBAL ∈ [−999.99, 9999.99] has image ⊆ {−1..9}). Integral type
    * required: a fractional value with a small interval still has
    * unboundedly many distinct values. */
  private def intervalBounded(e: Expression, resolve: Resolver): Boolean =
    integralTypes.contains(e.dataType) &&
      valueInterval(e, resolve).exists { case (lo, hi) =>
        hi - lo + 1 <= ColumnFacts.LowCardCap.toDouble
      }

  /** Round-12 (verdict item 7, retiring `mask`): aggregate functions
    * whose OUTPUT image is bounded by their INPUT image independent
    * of the row count —
    *  - bit_or of values in [0, h] (h ≥ lo ≥ 0) can only set bits
    *    already settable in h, so the image is ⊆ [0, 2^bits(h)−1]
    *    however many rows fold in (the property sum() lacks, which is
    *    exactly why the bitmask alias needed vocabulary trust while
    *    it was a sum);
    *  - min/max/first/last PICK one input value, so a bounded input
    *    image is preserved verbatim.
    * `inline` lets plan-aware callers substitute derived attribute
    * references with their defining expressions first (the aggregate
    * input is usually an alias computed a Project below). */
  private def boundedAggFn(
      fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
      inline: Expression => Expression, resolve: Resolver): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    fn match {
      case bo: BitOrAgg =>
        valueInterval(inline(bo.child), resolve).exists { case (lo, hi) =>
          lo >= 0 && hi < 65536
        }
      case mn: Min => boundedValueExpr(inline(mn.child), resolve)
      case mx: Max => boundedValueExpr(inline(mx.child), resolve)
      case f: First => boundedValueExpr(inline(f.child), resolve)
      case l: Last => boundedValueExpr(inline(l.child), resolve)
      case _ => false
    }
  }

  /** Continuation id for the BOUNDED-key walk ONLY: like
    * [[attrIdOf]], but also sees through
    * `coalesce(attr, bounded-values…)` — the fallback adds at most
    * its own (bounded) values to the image, so boundedness of the
    * surviving attribute still bounds the key (the left-join
    * null-fill shape: `coalesce(mask, 0)`). Deliberately NOT merged
    * into [[attrIdOf]]: origin/interval traces share that helper,
    * and a fallback literal outside a measured column range would
    * corrupt a min/max fact (round-12). */
  private def boundedAttrIdOf(e: Expression, resolve: Resolver)
      : Option[org.apache.spark.sql.catalyst.expressions.ExprId] = e match {
    case c: org.apache.spark.sql.catalyst.expressions.Coalesce =>
      val ids = c.children.flatMap(attrIdOf(_).toSeq)
      if (ids.distinct.size == 1 &&
          c.children.forall(ch => attrIdOf(ch).isDefined ||
            boundedValueExpr(ch, resolve))) ids.headOption
      else None
    case other => attrIdOf(other)
  }

  /** Strip casts down to an [[AggregateExpression]] and test its
    * function's image rule — the alias-child shape a grouping-key
    * walk sees at an Aggregate node. */
  private def boundedAggAlias(e: Expression,
      inline: Expression => Expression, resolve: Resolver): Boolean =
    e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        boundedAggAlias(c.child, inline, resolve)
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        boundedAggFn(ae.aggregateFunction, inline, resolve)
      case _ => false
    }

  /** Deep alias-definition lookup: the defining expression of a
    * DERIVED attribute anywhere in the subtree (exprIds are globally
    * unique, so the path to the Alias is irrelevant), with derived
    * references inside the definition inlined recursively to a
    * bounded depth. Physical attrs (no defining Alias) stay as-is for
    * the resolver to trace. Conservative: not found ⇒ unchanged. */
  private def inlineDerivedL(e: Expression, plan: LogicalPlan,
      depth: Int = 6): Expression =
    if (depth == 0) e
    else e.transformUp {
      case att: Attribute => findAliasDefL(att.exprId, plan)
        .map(inlineDerivedL(_, plan, depth - 1)).getOrElse(att)
    }

  private def findAliasDefL(
      id: org.apache.spark.sql.catalyst.expressions.ExprId,
      plan: LogicalPlan): Option[Expression] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    import org.apache.spark.sql.catalyst.expressions.Alias
    def lists(p: LogicalPlan): Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      p match {
        case pr: Project => pr.projectList
        case a: Aggregate => a.aggregateExpressions
        case _ => Nil
      }
    plan.collectFirst(scala.Function.unlift { n =>
      lists(n).collectFirst { case al: Alias if al.exprId == id => al.child }
    })
  }

  private def inlineDerivedP(e: Expression, plan: SparkPlan,
      depth: Int = 6): Expression =
    if (depth == 0) e
    else e.transformUp {
      case att: Attribute => findAliasDefP(att.exprId, plan)
        .map(inlineDerivedP(_, plan, depth - 1)).getOrElse(att)
    }

  private def findAliasDefP(
      id: org.apache.spark.sql.catalyst.expressions.ExprId,
      plan: SparkPlan): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    def lists(p: SparkPlan): Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      p match {
        case pr: org.apache.spark.sql.execution.ProjectExec => pr.projectList
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.resultExpressions
        case _ => Nil
      }
    plan.collectFirst(scala.Function.unlift { n =>
      lists(n).collectFirst { case al: Alias if al.exprId == id => al.child }
    })
  }

  private def boundedValueExpr(e: Expression, resolve: Resolver): Boolean =
    e match {
      case _ if intervalBounded(e, resolve) => true
      case _: Literal => true
      case t: org.apache.spark.sql.catalyst.expressions.TruncTimestamp
          if truncUnitBounded(t.format) => true
      case t: org.apache.spark.sql.catalyst.expressions.TruncDate
          if truncUnitBounded(t.format) => true
      case c: org.apache.spark.sql.catalyst.expressions.CaseWhen =>
        c.branches.forall { case (_, v) => boundedValueExpr(v, resolve) } &&
          c.elseValue.forall(boundedValueExpr(_, resolve))
      case att: Attribute =>
        boundedDomainAttr(att, resolve) ||
          att.dataType == org.apache.spark.sql.types.DateType
      case l: org.apache.spark.sql.catalyst.expressions.Least
          if integralTypes.contains(l.dataType) &&
            l.children.exists(smallIntLiteral) &&
            l.children.forall(nonNegativeExpr(_, resolve)) => true
      // Round-11 (verdict item 2): TYPE-LEVEL image bounds of the
      // house bucketing expressions — structural, key-independent, so
      // the sketch-bucket aliases (b0-b2, p0-p2) no longer need
      // vocabulary entries. md5_bucket(_, m) ∈ {0..m−1} by
      // construction (24-bit hash mod m) for a LITERAL modulus; the
      // widths in use (CMS 1024, bloom 4096) are compile-time
      // constants of their queries. Cap mirrors the bounded-build
      // convention (LocalRelation/Range ≤ 65536).
      case b: graft.functions.expressions.Md5Bucket =>
        b.right match {
          case Literal(m: Int, _) => m > 0 && m <= 65536
          case _ => false
        }
      // Round-12 (verdict item 7, retiring `dig`): a FIXED-LENGTH
      // substring parsed to an integral type. Whatever the input
      // string, a ≤k-char slice parses to NULL or an integer in
      // [−(10^(k−1)−1), 10^k−1] — ≤ ~11·10^(k−1)+1 values, within
      // the 65536 bounded-build cap for k ≤ 4. Sound with no data
      // fact: the bound is a property of decimal string parsing.
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if integralTypes.contains(c.dataType) &&
            (c.child match {
              case ss: org.apache.spark.sql.catalyst.expressions.Substring =>
                ss.len match {
                  case Literal(k: Int, _) => k >= 0 && k <= 4
                  case _ => false
                }
              case _ => false
            }) => true
      // Round-12 (verdict item 7): aggregate image rules — see
      // [[boundedAggFn]]. This arm also SHADOWS the generic
      // references-based fallthrough below for every aggregate, which
      // would otherwise accept sum(lowCardCol) unsoundly (sum/count
      // images grow with the row count however bounded the input is).
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        boundedAggFn(ae.aggregateFunction, identity, resolve)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        boundedValueExpr(c.child, resolve)
      case other =>
        other.deterministic && other.references.nonEmpty &&
          other.references.forall(r =>
            boundedDomainAttr(r, resolve) ||
              r.dataType == org.apache.spark.sql.types.DateType)
    }

  /** LOGICAL lineage walker: does a literal-domain Filter pin, or a
    * bounded-value alias, prove one of `ids` bounded in `plan`'s own
    * lineage? */
  private def boundedKeyL(ids: Ids, plan: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    if (ids.isEmpty) return false
    def remap(exprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
        below: LogicalPlan): (Boolean, Ids) = {
      var hit = false
      val extra = exprs.flatMap {
        case al: org.apache.spark.sql.catalyst.expressions.Alias
            if ids(al.exprId) =>
          // second test: the aggregate image rules (bit_or/min/max…)
          // with derived inputs inlined from the subtree below —
          // bit_or's CASE-of-literals input is an alias computed in a
          // Project under the aggregate (round-12, verdict item 7)
          if (boundedValueExpr(al.child, resolveL(below)) ||
              boundedAggAlias(al.child, inlineDerivedL(_, below),
                resolveL(below))) { hit = true; None }
          else boundedAttrIdOf(al.child, resolveL(below))
        case _ => None
      }
      (hit, ids ++ extra)
    }
    def into(c: LogicalPlan): Boolean =
      boundedKeyL(ids.filter(id => c.outputSet.exists(_.exprId == id)), c)
    plan match {
      case f: Filter =>
        literalPin(ids, f.condition) || boundedKeyL(ids, f.child)
      case p: Project =>
        val (hit, mapped) = remap(p.projectList, p.child)
        hit || boundedKeyL(mapped, p.child)
      case a: Aggregate =>
        val (hit, mapped) = remap(a.aggregateExpressions, a.child)
        hit || boundedKeyL(mapped, a.child)
      case u: Union =>
        val poss = u.output.zipWithIndex.collect {
          case (att, i) if ids(att.exprId) => i }
        poss.nonEmpty && u.children.forall(c =>
          boundedKeyL(poss.map(i => c.output(i).exprId).toSet, c))
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        CheckpointRegistry.lookup(l.rdd.id).exists { interior =>
          val mapped: Ids = l.output.zipWithIndex.collect {
            case (att, i) if ids(att.exprId) && i < interior.output.size =>
              interior.output(i).exprId
          }.toSet
          boundedKeyL(mapped, interior)
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val mapped: Ids = m.output.zipWithIndex.collect {
          case (att, i) if ids(att.exprId) && i < m.cachedPlan.output.size =>
            m.cachedPlan.output(i).exprId
        }.toSet
        boundedKeyP(mapped, m.cachedPlan)
      case leaf if leaf.children.isEmpty => false
      case other => other.children.exists(into)
    }
  }

  /** PHYSICAL twin of [[boundedKeyL]]. */
  private def boundedKeyP(ids: Ids, p: SparkPlan): Boolean = {
    if (ids.isEmpty) return false
    def into(c: SparkPlan): Boolean =
      boundedKeyP(ids.filter(id => c.outputSet.exists(_.exprId == id)), c)
    p match {
      case f: org.apache.spark.sql.execution.FilterExec =>
        literalPin(ids, f.condition) || boundedKeyP(ids, f.child)
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        var hit = false
        val extra = pr.projectList.flatMap {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
              if ids(al.exprId) =>
            if (boundedValueExpr(al.child, resolveP(pr.child))) { hit = true; None }
            else boundedAttrIdOf(al.child, resolveP(pr.child))
          case _ => None
        }
        hit || boundedKeyP(ids ++ extra, pr.child)
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        var hit = false
        // physical result expressions reference the aggregate RESULT
        // attribute, not the AggregateExpression itself — map result
        // attrs back to their functions so the image rules (bit_or/
        // min/max…, round-12 verdict item 7) can fire here too; the
        // function's input attr is inlined by deep lookup, which sees
        // through the exchange + partial-aggregate pair to the
        // defining Project (exprIds are globally unique)
        val aggFns = a.aggregateExpressions.map(ae =>
          ae.resultAttribute.exprId -> ae.aggregateFunction).toMap
        def aggImage(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
          e match {
            case c: org.apache.spark.sql.catalyst.expressions.Cast =>
              aggImage(c.child)
            case att: Attribute if aggFns.contains(att.exprId) =>
              boundedAggFn(aggFns(att.exprId),
                inlineDerivedP(_, a.child), resolveP(a.child))
            case _ => false
          }
        val extra = a.resultExpressions.flatMap {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
              if ids(al.exprId) =>
            if (boundedValueExpr(al.child, resolveP(a.child)) ||
                aggImage(al.child)) { hit = true; None }
            else boundedAttrIdOf(al.child, resolveP(a.child))
          case _ => None
        }
        hit || boundedKeyP(ids ++ extra, a.child)
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        CheckpointRegistry.lookup(r.rdd.id).exists { interior =>
          val mapped: Ids = r.output.zipWithIndex.collect {
            case (att, i) if ids(att.exprId) && i < interior.output.size =>
              interior.output(i).exprId
          }.toSet
          boundedKeyL(mapped, interior)
        }
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        boundedKeyP(ids, s.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        boundedKeyP(ids, a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        boundedKeyP(ids, q.plan)
      case u: org.apache.spark.sql.execution.UnionExec =>
        val poss = u.output.zipWithIndex.collect {
          case (att, i) if ids(att.exprId) => i }
        poss.nonEmpty && u.children.forall(c =>
          boundedKeyP(poss.map(i => c.output(i).exprId).toSet, c))
      case leaf if leaf.children.isEmpty => false
      case other => other.children.exists(into)
    }
  }

  /** Logical row bound: true when the subtree provably emits rows
    * bounded by a small constant independent of input size. Extends
    * the physical proofs with the literal-predicate rule: an
    * Aggregate grouping on a column that a Filter below pins to a
    * literal set (`isin` / `===`) is bounded by that set, whatever
    * the layers between contribute (the q_bm25 2-literal-term df
    * frame). Conservative otherwise: unrecognized leaf = unbounded. */
  def boundedLogical(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // the fixture tables' unique row keys (TESTDATA contract): an
    // equality pin on one is a 1-row fetch; a `< k` range is ≤ k rows
    // — matched at conjunct level only (round-9 ADVICE: an equality
    // under OR / NOT is not a pin). Round-10 (verdict item 1): the key
    // must RESOLVE through the filter's own child to the physical
    // fixture PK column, uniqueness cross-checked against ColumnFacts
    // — a column merely NAMED vec_id proves nothing.
    def pkBounded(cond: Expression, below: LogicalPlan): Boolean = {
      val resolve = uniqueResolveL(below)
      conjunctsOf(cond).exists {
        case EqualTo(att: Attribute, _: Literal) => fixturePkAttr(att, resolve)
        case EqualTo(_: Literal, att: Attribute) => fixturePkAttr(att, resolve)
        case org.apache.spark.sql.catalyst.expressions.LessThan(
          att: Attribute, Literal(v: Long, _)) =>
          fixturePkAttr(att, resolve, requireNonNeg = true) && v <= 65536L
        case org.apache.spark.sql.catalyst.expressions.LessThan(
          att: Attribute, Literal(v: Int, _)) =>
          fixturePkAttr(att, resolve, requireNonNeg = true) && v <= 65536
        case _ => false
      }
    }
    p match {
      case f: Filter
          if pkBounded(f.condition, f.child) || rankLimitedFilter(f) => true
      case a: Aggregate =>
        a.groupingExpressions.isEmpty || boundedLogical(a.child) ||
          a.groupingExpressions.forall { g =>
            val resolve = resolveL(a.child)
            // a computed grouping key carries its user-facing name in
            // the aggregate list's Alias, not in the grouping
            // expression (the optimizer may even hoist the expression
            // into the child and group on an attribute literally
            // named `_groupingexpression`) — those names remain the
            // residual alias trust for keys with NO base origin; a
            // key that RESOLVES is judged by its physical column only
            // (round-10, verdict item 1)
            val aliased = a.aggregateExpressions.collect {
              case al: org.apache.spark.sql.catalyst.expressions.Alias
                if al.child.semanticEquals(g) => al.name
            }
            val attrOk = g match {
              case att: Attribute =>
                boundedDomainAttr(att, resolve, aliased) ||
                  att.name.startsWith("__pfx_p") ||
                  Set("__pfx_bucket", "__tb", "__eb").contains(att.name)
              case _ => false
            }
            val computedNames = g match {
              case _: Attribute => Nil
              case al: org.apache.spark.sql.catalyst.expressions.Alias =>
                al.name +: aliased
              case _ => aliased
            }
            attrOk ||
              computedNames.exists(name =>
                // computed keys have no origin by definition → the
                // derived-key vocabulary only (round-11 ADVICE: an
                // Alias named after a base column proves nothing)
                derivedName(name) ||
                  // PrefixOps internals: partition-column copies are
                  // low-cardinality by the operator's documented
                  // contract; bucket keys are compile-time constants
                  name.startsWith("__pfx_p") ||
                  Set("__pfx_bucket", "__tb", "__eb").contains(name)) ||
              // a DATE-typed grouping key is calendar-bounded by TYPE,
              // whatever its alias: the daily/monthly series frames
              // (day→lday/day1…, month m) are |horizon|-row grids —
              // the round-6 promotion already treats calendar names as
              // bounded; this closes the renamed-alias gap (round-7)
              g.dataType == org.apache.spark.sql.types.DateType ||
              boundedValueExpr(g, resolve) ||
              (g match {
                case att: Attribute => boundedKeyL(Set(att.exprId), a.child)
                case _ => false
              })
          }
      case _: GlobalLimit | _: LocalLimit => true
      case _: OneRowRelation => true
      case l: LocalRelation => l.data.size <= 65536
      case r: Range => r.numElements <= BigInt(65536)
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val path = rel.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case _ => ""
        }
        path.contains("nation") || path.contains("region")
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        CheckpointRegistry.lookup(l.rdd.id).exists(boundedLogical)
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        boundedPhysical(m.cachedPlan)
      case j: Join => boundedLogical(j.left) && boundedLogical(j.right)
      case u: Union => u.children.forall(boundedLogical)
      case g: Generate => boundedLogical(g.child)
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(boundedLogical)
    }
  }

  /** Physical row bound — the SparkPlan twin of [[boundedLogical]]
    * (GlobalJoinSpec's BNLJ-build proof, promoted to main in round 7
    * so cached subtrees can carry it: a `.persist()` plants an
    * InMemoryRelation leaf in the LOGICAL plan whose interior only
    * exists physically). Grouping-key rules mirror the logical
    * Aggregate rule: bounded-domain names, PrefixOps internals,
    * DATE-typed keys, plus the literal-predicate and bounded-alias-
    * expression proofs — round-9: both LINEAGE-AWARE via
    * [[boundedKeyP]] (exprId-tracked through aliases, checkpoint
    * leaves, caches; no bare-name fallback, no cross-branch filter
    * leakage) — that let the former query-term-panel, rating-grid,
    * and ordinal-price-band allowlist entries prove out
    * structurally. */
  def boundedPhysical(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
      // no grouping keys → 1 row, but ONLY in Final/Complete mode (a
      // Partial-mode no-grouping aggregate emits one row per input
      // partition — config-bounded, not constant)
      val finalMode = a.aggregateExpressions.forall(ae =>
        ae.mode == Final || ae.mode == Complete)
      (a.groupingExpressions.isEmpty && finalMode) ||
        boundedPhysical(a.child) ||
        (a.groupingExpressions.nonEmpty && a.groupingExpressions.forall { g =>
          (g match {
            case att: Attribute =>
              boundedDomainAttr(att, resolveP(a.child)) ||
                att.name.startsWith("__pfx_p") ||
                Set("__pfx_bucket", "__tb", "__eb").contains(att.name) ||
                boundedKeyP(Set(att.exprId), a.child)
            case _ => false
          }) || g.dataType == org.apache.spark.sql.types.DateType ||
            boundedValueExpr(g, resolveP(a.child))
        })
    case _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.CollectLimitExec => true
    // round-8 port of boundedLogical's fixture-PK rule: an equality
    // pin on a unique row key is a 1-row fetch (the q_sim_cosine /
    // q_knn_classify "query vector by vec_id = 0" probes) — round-9
    // ADVICE: matched at TOP-LEVEL CONJUNCT only (an equality under
    // OR / NOT is not a 1-row fetch); round-10: the key must RESOLVE
    // to the physical PK column, uniqueness facts-checked
    case f: org.apache.spark.sql.execution.FilterExec
        if conjunctsOf(f.condition).exists {
          case EqualTo(att: Attribute, _: Literal) =>
            fixturePkAttr(att, uniqueResolveP(f.child))
          case EqualTo(_: Literal, att: Attribute) =>
            fixturePkAttr(att, uniqueResolveP(f.child))
          case _ => false
        } => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      val path = f.relation.location.rootPaths.mkString(",")
      path.contains("nation") || path.contains("region")
    case r: org.apache.spark.sql.execution.RangeExec =>
      r.numElements <= BigInt(65536)
    case r: org.apache.spark.sql.execution.RDDScanExec =>
      CheckpointRegistry.lookup(r.rdd.id).exists(boundedLogical)
    case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      boundedPhysical(s.relation.cachedPlan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      boundedPhysical(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      boundedPhysical(q.plan)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      boundedPhysical(j.left) && boundedPhysical(j.right)
    case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
      boundedPhysical(j.left) && boundedPhysical(j.right)
    case u: org.apache.spark.sql.execution.UnionExec =>
      u.children.forall(boundedPhysical)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedPhysical(r.child)
    // explode over a bounded frame: the fanout array is built from
    // that bounded row (calendar sequence, subset enumeration); over
    // an unbounded child it is a corpus fan-out and stays rejected
    case g: org.apache.spark.sql.execution.GenerateExec =>
      boundedPhysical(g.child)
    case leaf if leaf.children.isEmpty => false
    // row-preserving / row-reducing pass-throughs: Project, Filter,
    // Sort, Window (1:1), Expand (constant ×), exchanges, codegen
    // wrappers
    case other => other.children.forall(boundedPhysical)
  }

  /** The underlying attribute name of a join-key expression, looking
    * through the value-preserving wrappers the optimizer inserts
    * (float keys arrive as KnownFloatingPointNormalized(
    * NormalizeNaNAndZero(x)); casts keep the domain cardinality). */
  private def keyAttrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      keyAttrName(c.child)
    case k: org.apache.spark.sql.catalyst.expressions.KnownFloatingPointNormalized =>
      keyAttrName(k.child)
    case n: org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero =>
      keyAttrName(n.child)
    case al: org.apache.spark.sql.catalyst.expressions.Alias =>
      keyAttrName(al.child)
    case _ => None
  }

  /** The equi-key pairs of a logical join (conjuncts of the form
    * `leftExpr = rightExpr` / `<=>` with one side per input): the
    * columns a shuffle implementation hash-partitions both sides on,
    * as (left name, right name) options — None when the key is a
    * computed expression whose domain the name rules cannot judge.
    * Non-equi conjuncts (c1 < c2 tiebreaks, range bounds) do not
    * contribute partitioning and are ignored. */
  def equiKeyPairs(
      j: org.apache.spark.sql.catalyst.plans.logical.Join)
      : Seq[(Option[String], Option[String])] = {
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    def sidesOf(a: Expression, b: Expression)
        : Option[(Expression, Expression)] =
      if (a.references.subsetOf(leftOut) && b.references.subsetOf(rightOut))
        Some((a, b))
      else if (b.references.subsetOf(leftOut) && a.references.subsetOf(rightOut))
        Some((b, a))
      else None
    j.condition.toSeq.flatMap(conjunctsOf).flatMap {
      case EqualTo(a, b) => sidesOf(a, b)
      case EqualNullSafe(a, b) => sidesOf(a, b)
      case _ => None
    }.map { case (l, r) => (keyAttrName(l), keyAttrName(r)) }
  }

  /** Strategy-blind join funnel (round-7 verdict): a logical join
    * whose equi keys are ALL bounded-domain columns, between two
    * sides NEITHER of which is provably constant-bounded. At scale
    * both sides grow with the corpus, so the join must shuffle — and
    * hash partitioning on a ~5-to-25-value key routes every row of
    * both sides into ≤|domain| reducer partitions. Evaluated on the
    * OPTIMIZED LOGICAL plan precisely because graded-SF stats plan
    * these as BroadcastHashJoin (one side is small at toy scale),
    * which hid q_fs_linkage's nation-blocked O(n²/25) self-join and
    * q_lof's label-only block from the physical shuffle-join gate.
    * A join against a [[boundedLogical]] side is exempt: broadcasting
    * a constant-size frame is the correct plan at every scale. A key
    * pair that is not a plain (possibly wrapped) attribute on either
    * side is assumed high-cardinality — the shuffle would partition
    * on it too, so the join is scale-parallel. */
  def logicalJoinFunnel(
      j: org.apache.spark.sql.catalyst.plans.logical.Join): Boolean = {
    val pairs = equiKeyPairs(j)
    pairs.nonEmpty && pairs.forall { case (l, r) =>
      l.exists(lowCardNames.contains) || r.exists(lowCardNames.contains)
    } && !boundedLogical(j.left) && !boundedLogical(j.right)
  }

  /** PHYSICAL twin of [[logicalJoinFunnel]], for plans whose logical
    * form is gone (round-9: cache interiors — a `.persist()` interior
    * only exists physically, so the strategy-blind LOGICAL gate could
    * never sweep it). Same rule, physical proofs: an equi join whose
    * key pairs each touch a bounded-domain name, between two sides
    * neither provably bounded, funnels at scale REGARDLESS of the
    * planned strategy (graded-SF stats typically plan it as a
    * broadcast join — broadcasting a corpus-growing side is the
    * 100 TB OOM). A non-attribute key is assumed high-cardinality,
    * as in the logical rule. */
  def physicalJoinFunnel(
      j: org.apache.spark.sql.execution.joins.BaseJoinExec): Boolean = {
    val pairs = j.leftKeys.zip(j.rightKeys)
      .map { case (l, r) => (keyAttrName(l), keyAttrName(r)) }
    pairs.nonEmpty && pairs.forall { case (l, r) =>
      l.exists(lowCardNames.contains) || r.exists(lowCardNames.contains)
    } && !boundedPhysical(j.left) && !boundedPhysical(j.right)
  }
}
