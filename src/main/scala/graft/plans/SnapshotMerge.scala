package graft.plans

import graft.operators.ScaleOps
import graft.sources.SnapshotTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{StructField, StructType}

/** SQL `MERGE INTO`, `UPDATE` and (non-pushable-WHERE) `DELETE` on
  * snapshot-catalog tables, resolved to the engine's own row-level
  * writes ([[ScaleOps.mergeIntoSnapshot]],
  * [[ScaleOps.mergeGeneralSnapshot]], [[ScaleOps.updateWhereSnapshot]],
  * [[ScaleOps.deleteWhereSnapshot]] — commit protocol and all), each
  * merge-on-read or copy-on-write by the one rule of
  * `ScaleOps.rowLevelCommit`.
  *
  * Spark's generic row-level-operation rewrite needs
  * SupportsRowLevelOperations; the store instead routes MERGE through
  * its OWN rewrite — zone-map-planned touched files, key-grain joins,
  * untouched manifest lines carried forward verbatim — which is
  * strictly better-informed than a generic scan-and-replace (it reads
  * only the files an update key can land in). Two MERGE executors:
  *
  *  - the CANONICAL UPSERT (`WHEN MATCHED THEN UPDATE SET * WHEN NOT
  *    MATCHED THEN INSERT *`, no clause conditions, full-row
  *    assignment lists) routes to [[ScaleOps.mergeIntoSnapshot]] —
  *    the s14 write path, anti/semi joins, evolve-on-merge support;
  *  - every other GENERAL shape — clause conditions, `WHEN MATCHED …
  *    THEN DELETE`, PARTIAL SET lists, several WHEN clauses in order,
  *    and `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE (the
  *    mirror-the-source sync; its rewrite is unbounded by key zones
  *    BY DEFINITION — every absent key is a candidate) — routes to
  *    [[ScaleOps.mergeGeneralSnapshot]], the full-outer-join row
  *    router. This is what applying a CDC insert/update/delete
  *    envelope as one statement needs.
  *
  * Still refused loudly (never approximated): non-equi-key ON
  * conditions, star/INSERT actions under NOT MATCHED BY SOURCE, and
  * schema evolution on a general shape. The rule fires during resolution, AFTER the
  * statement is fully resolved (star expansion included) — acting on
  * a half-resolved MERGE mis-reads partial assignment lists as
  * full-row replaces — and before Spark's RewriteMergeIntoTable can
  * reject the table for not implementing SupportsRowLevelOperations. */
case class ResolveSnapshotMerge(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      // SQL UPDATE — the same row-level planning as SupportsDelete:
      // condition → pushed-filter constraints →
      // candidate files; assignments applied only to matching rows.
      case u: UpdateTable if snapshotTarget(u.table).isDefined &&
          u.table.resolved && u.assignments.forall(_.resolved) &&
          u.condition.forall(_.resolved) =>
        val table = snapshotTarget(u.table).get
        val sets = u.assignments.map {
          case Assignment(k: AttributeReference, v) => k.name -> v
          case a => refuse(
            s"UPDATE SET targets must be top-level columns, got: ${a.sql}")
        }
        UpdateSnapshotCommand(table.root, table.pinnedVersion,
          table.statsCol, sets, u.condition)

      // SQL DELETE whose WHERE has conjuncts with NO data-source
      // Filter translation (e.g. length(text) > N): SupportsDelete
      // cannot carry the row-level predicate, and Spark's fallback
      // needs SupportsRowLevelOperations — so the engine takes the
      // statement itself. Translatable conjuncts still prune the
      // candidate files; the untranslatable ones just degrade the
      // plan to every statted file, never the ANSWER. Fully-pushable
      // DELETEs keep flowing through SupportsDelete unchanged.
      case d: DeleteFromTable if snapshotTarget(d.table).isDefined &&
          d.table.resolved && d.condition.resolved &&
          conjuncts(d.condition).exists(e =>
            org.apache.spark.sql.graft.SqlShims.translateFilter(e).isEmpty) =>
        val table = snapshotTarget(d.table).get
        DeleteSnapshotCommand(table.root, table.pinnedVersion,
          table.statsCol, Some(d.condition))

      case m: MergeIntoTable if snapshotTarget(m.targetTable).isDefined &&
          m.targetTable.resolved && m.sourceTable.resolved &&
          m.mergeCondition.resolved &&
          (m.matchedActions ++ m.notMatchedActions ++
            m.notMatchedBySourceActions).forall(actionResolved) =>
        val table = snapshotTarget(m.targetTable).get
        val keys = equiKeys(m).getOrElse(refuse(
          "ON condition must be a conjunction of equi-joins, each " +
            "between one target and one source column, got: " +
            m.mergeCondition.sql))
        val tOut = m.targetTable.outputSet
        val sOut = m.sourceTable.outputSet
        val tCols = m.targetTable.output.map(_.name)
        val sCols = m.sourceTable.output.map(_.name)
        // schema evolution on ANY shape: the statement's new target
        // columns are the source's columns the target lacks (plus
        // whatever the analyzer already evolved into the target
        // relation); the executors null-fill them on keep paths and
        // commit the merged #schema: header
        val sourceOnly = m.sourceTable.output.filterNot(sa =>
          tCols.exists(_.equalsIgnoreCase(sa.name)))
        if (m.notMatchedBySourceActions.isEmpty &&
            keys.forall { case (t, sc) => t.equalsIgnoreCase(sc) } &&
            isCanonicalUpsert(m.matchedActions, m.notMatchedActions,
              tOut, sOut, tCols))
          MergeIntoSnapshotCommand(table.root, table.pinnedVersion,
            keys.map(_._1), m.sourceTable, m.withSchemaEvolution)
        else {
          val evoCols = if (m.withSchemaEvolution) sourceOnly else Nil
          val matched = m.matchedActions.map(clauseOf(_, tOut, sOut,
            tCols, sCols, evoCols.map(_.name)))
          val notMatched = m.notMatchedActions.map(clauseOf(_, tOut, sOut,
            tCols, sCols, evoCols.map(_.name)))
          // NOT MATCHED BY SOURCE: target-row-only clauses (UPDATE
          // with target-side values / DELETE); a star action has no
          // source row to expand against and is refused by shape
          val bySource = m.notMatchedBySourceActions.map {
            case UpdateStarAction(_) | InsertStarAction(_) | (_: InsertAction) =>
              refuse("NOT MATCHED BY SOURCE supports UPDATE SET "
                + "<target exprs> and DELETE only")
            case a => clauseOf(a, tOut, sOut, tCols, sCols,
              evoCols.map(_.name))
          }
          // the statement's full evolved output: the target relation's
          // own columns (analyzer-evolved or not) plus the source-only
          // columns the evolution admits
          val evolved =
            if (!m.withSchemaEvolution) None
            else Some(StructType(
              (m.targetTable.output ++ evoCols).map(a =>
                StructField(a.name, a.dataType, nullable = true))))
          MergeIntoSnapshotGeneralCommand(table.root, table.pinnedVersion,
            keys, m.sourceTable, matched, notMatched, bySource, evolved)
        }
    }

  private def refuse(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft snapshot DML: $why")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CatalystAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The target resolved to a snapshot-catalog table (under any
    * stack of aliases). */
  private def snapshotTarget(p: LogicalPlan): Option[SnapshotTable] =
    p.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[SnapshotTable] =>
        r.table.asInstanceOf[SnapshotTable]
    }

  /** The merge keys: `ON t.a = s.a AND t.b = s.x AND …` — a
    * CONJUNCTION of equi pairs, each between one target attribute
    * and one source attribute (the two sides may be named
    * differently). Returns the (target name, source name) pairs in
    * statement order; None for any other ON shape (range/OR/expr
    * conditions refuse loudly upstream — approximating the join key
    * would merge the wrong rows). Duplicate target-side columns
    * also refuse: `ON t.k = s.a AND t.k = s.b` is a valid SQL join
    * but not a KEY, and the executors' by-name frames need one
    * source image per target key column. */
  private def equiKeys(m: MergeIntoTable): Option[Seq[(String, String)]] = {
    val tIds = m.targetTable.outputSet
    val sIds = m.sourceTable.outputSet
    val pairs = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tIds.contains(a) && sIds.contains(b) => Some(a.name -> b.name)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tIds.contains(b) && sIds.contains(a) => Some(b.name -> a.name)
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) None
    else {
      val ks = pairs.flatten
      val tNames = ks.map(_._1.toLowerCase)
      if (tNames.distinct.length != tNames.length) None else Some(ks)
    }
  }

  /** An action whose every expression is resolved — star actions
    * count (they carry no expressions; their meaning is positional).
    * The rule must not interpret a HALF-resolved action: treating a
    * pending star expansion as "identity assignments" is exactly the
    * bug that executed partial SET lists as full-row replaces. */
  private def actionResolved(a: MergeAction): Boolean = a match {
    case UpdateStarAction(cond) => cond.forall(_.resolved)
    case InsertStarAction(cond) => cond.forall(_.resolved)
    case other => other.condition.forall(_.resolved) &&
      other.children.forall(_.resolved)
  }

  /** The canonical upsert — UPDATE SET * / INSERT * with no clause
    * conditions. Matched both before star expansion (the star action
    * nodes) and after: an assignment list is a full-row identity
    * replace only when every assignment is a same-name target←source
    * column copy AND the list covers EVERY target column exactly
    * once — a partial list routes to the general executor, which
    * updates only what it names. */
  private def isCanonicalUpsert(matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], tOut: AttributeSet,
      sOut: AttributeSet, tCols: Seq[String]): Boolean = {
    def identityCover(as: Seq[Assignment]): Boolean = {
      val names = as.collect {
        case Assignment(k: AttributeReference, v: AttributeReference)
            if tOut.contains(k) && sOut.contains(v) &&
              k.name.equalsIgnoreCase(v.name) => k.name.toLowerCase
      }
      names.length == as.length && names.distinct.length == names.length &&
        tCols.map(_.toLowerCase).toSet == names.toSet
    }
    val updOk = matched match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, as, _)) => identityCover(as)
      case _ => false
    }
    val insOk = notMatched match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, as)) => identityCover(as)
      case _ => false
    }
    updOk && insOk
  }

  /** Re-root an expression's target/source attributes onto the
    * general executor's joined-frame names (`__t_<col>` /
    * `__s_<col>`) as by-name unresolved attributes — the original
    * attribute ids belong to the statement's relations, not the
    * rewrite's own scan. */
  private def reroot(e: Expression, tOut: AttributeSet,
      sOut: AttributeSet): Expression = e.transform {
    case a: AttributeReference if tOut.contains(a) =>
      UnresolvedAttribute.quoted(s"__t_${a.name}")
    case a: AttributeReference if sOut.contains(a) =>
      UnresolvedAttribute.quoted(s"__s_${a.name}")
  }

  /** One resolved MERGE action as the general executor's clause
    * shape: (kind, re-rooted condition, target-column → re-rooted
    * value assignments). A star action with a CONDITION synthesizes
    * its full by-name assignment list here (the analyzer only
    * expands unconditioned stars for non-row-level tables); under
    * schema evolution the star also covers `evoCols` — the source's
    * new columns the target is evolving to carry. */
  private def clauseOf(a: MergeAction, tOut: AttributeSet,
      sOut: AttributeSet, tCols: Seq[String], sCols: Seq[String],
      evoCols: Seq[String]): SnapshotMergeClause = {
    def starAssigns: Seq[(String, Expression)] = tCols.map { c =>
      require(sCols.exists(_.equalsIgnoreCase(c)),
        s"MERGE star action needs source column '$c' (by name)")
      c -> UnresolvedAttribute.quoted(s"__s_$c")
    } ++ evoCols.map(c =>
      (c: String) -> (UnresolvedAttribute.quoted(s"__s_$c"): Expression))
    def named(as: Seq[Assignment]): Seq[(String, Expression)] = as.map {
      case Assignment(k: AttributeReference, v) if tOut.contains(k) =>
        k.name -> reroot(v, tOut, sOut)
      case x => refuse(
        s"MERGE assignment targets must be top-level target columns, " +
          s"got: ${x.sql}")
    }
    // an assignment list the ANALYZER expanded from a star (identity
    // same-name cover of every target column) is still a `SET *` /
    // `INSERT *` to the user — under schema evolution it covers the
    // evolved columns too, exactly as the unexpanded star does; an
    // explicit partial list never evolves what it doesn't name
    def starShaped(as: Seq[Assignment]): Boolean = {
      val names = as.collect {
        case Assignment(k: AttributeReference, v: AttributeReference)
            if tOut.contains(k) && sOut.contains(v) &&
              k.name.equalsIgnoreCase(v.name) => k.name.toLowerCase
      }
      names.length == as.length &&
        tCols.map(_.toLowerCase).toSet == names.toSet
    }
    def namedEvo(as: Seq[Assignment]): Seq[(String, Expression)] =
      if (evoCols.isEmpty || !starShaped(as)) named(as)
      else named(as) ++ evoCols.map(c =>
        (c: String) -> (UnresolvedAttribute.quoted(s"__s_$c"): Expression))
    a match {
      case UpdateStarAction(cond) =>
        SnapshotMergeClause("update", cond.map(reroot(_, tOut, sOut)),
          starAssigns)
      case InsertStarAction(cond) =>
        SnapshotMergeClause("insert", cond.map(reroot(_, tOut, sOut)),
          starAssigns)
      case UpdateAction(cond, as, _) =>
        SnapshotMergeClause("update", cond.map(reroot(_, tOut, sOut)),
          namedEvo(as))
      case InsertAction(cond, as) =>
        SnapshotMergeClause("insert", cond.map(reroot(_, tOut, sOut)),
          namedEvo(as))
      case DeleteAction(cond) =>
        SnapshotMergeClause("delete", cond.map(reroot(_, tOut, sOut)), Nil)
      case other => refuse(s"unsupported MERGE action: $other")
    }
  }
}

/** A general-MERGE clause as the resolution rule hands it to the
  * command: expressions are re-rooted on `__t_`/`__s_` names and
  * resolve against the executor's own joined frame. */
case class SnapshotMergeClause(kind: String,
    condition: Option[Expression], assigns: Seq[(String, Expression)])

/** The resolved MERGE as a driver command: materialize the source
  * plan, hand it to the engine's row-level upsert. The command
  * is leaf-shaped (the source rides as an inner child) so the
  * analyzer stops rewriting it; the heavy lifting — zone-map file
  * planning, key-grain anti join, race-safe commit — happens inside
  * [[ScaleOps.mergeIntoSnapshot]] at execution. */
case class MergeIntoSnapshotCommand(root: String, pinnedVersion: Long,
    keyCols: Seq[String], source: LogicalPlan, evolveSchema: Boolean)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    SnapshotDmlPlanning.requireHead(session, root, pinnedVersion, "MERGE")
    val updates = org.apache.spark.sql.graft.SqlShims.ofRows(session, source)
    ScaleOps.mergeIntoSnapshot(session, root, keyCols.mkString(","),
      updates, evolveSchema = evolveSchema)
    Seq.empty
  }
}

/** The GENERAL MERGE shapes as a driver command — clause conditions,
  * DELETE actions, partial SET/INSERT lists, clause order — executed
  * by [[ScaleOps.mergeGeneralSnapshot]]'s full-outer row router over
  * the zone-map-planned touched files. */
case class MergeIntoSnapshotGeneralCommand(root: String,
    pinnedVersion: Long, keys: Seq[(String, String)], source: LogicalPlan,
    matched: Seq[SnapshotMergeClause], notMatched: Seq[SnapshotMergeClause],
    bySource: Seq[SnapshotMergeClause] = Nil,
    evolved: Option[org.apache.spark.sql.types.StructType] = None)
    extends LeafRunnableCommand {

  import org.apache.spark.sql.graft.SqlShims

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(source)

  private def lower(c: SnapshotMergeClause): ScaleOps.GeneralMergeClause =
    ScaleOps.GeneralMergeClause(c.kind,
      c.condition.map(SqlShims.column),
      c.assigns.map { case (n, e) => n -> SqlShims.column(e) })

  override def run(session: SparkSession): Seq[Row] = {
    SnapshotDmlPlanning.requireHead(session, root, pinnedVersion, "MERGE")
    val updates = SqlShims.ofRows(session, source)
    ScaleOps.mergeGeneralSnapshot(session, root, keys,
      updates, matched.map(lower), notMatched.map(lower),
      bySource.map(lower), evolved = evolved)
    Seq.empty
  }
}

/** The resolved UPDATE as a driver command — the row-level
  * write behind SQL `UPDATE cat.t SET … WHERE …`, sharing the
  * DELETE path's candidate planning: each WHERE conjunct that
  * translates to a data-source Filter (the language the scan builder
  * maps into stat-space constraints — reused verbatim) PRUNES the
  * candidate files; conjuncts with no translation (e.g.
  * `length(text) > N`) contribute no constraint — the plan degrades
  * to every statted file, the ANSWER stays exact, because the full
  * row-level predicate always re-evaluates over the rewrite scan.
  * SET/WHERE expressions are re-rooted on column NAMES before
  * evaluating there (their original attribute ids belong to the
  * query's relation, not the rewrite's). */
case class UpdateSnapshotCommand(root: String, pinnedVersion: Long,
    statsCol: Option[String],
    sets: Seq[(String, Expression)], condition: Option[Expression])
    extends LeafRunnableCommand {

  import org.apache.spark.sql.graft.SqlShims

  override def run(session: SparkSession): Seq[Row] = {
    SnapshotDmlPlanning.requireHead(session, root, pinnedVersion, "UPDATE")
    val (pred, constraints) = SnapshotDmlPlanning.plan(
      session, root, statsCol, condition)
    ScaleOps.updateWhereSnapshot(session, root, pred,
      sets.map { case (c, e) =>
        c -> SqlShims.column(SnapshotDmlPlanning.byName(e)) },
      constraints)
    Seq.empty
  }
}

/** The resolved DELETE (non-pushable WHERE) as a driver command —
  * same candidate planning as UPDATE: pushable conjuncts prune,
  * the full predicate decides rows. The fully-pushable DELETE path
  * stays on SupportsDelete (SnapshotTable.deleteWhere). */
case class DeleteSnapshotCommand(root: String, pinnedVersion: Long,
    statsCol: Option[String], condition: Option[Expression])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    SnapshotDmlPlanning.requireHead(session, root, pinnedVersion, "DELETE")
    val (pred, constraints) = SnapshotDmlPlanning.plan(
      session, root, statsCol, condition)
    ScaleOps.deleteWhereSnapshot(session, root, pred, constraints)
    Seq.empty
  }
}

/** Shared UPDATE/DELETE candidate planning: re-root the condition by
  * name, translate each conjunct to a data-source Filter where
  * possible, and map the translatable subset into stat-space
  * constraints through the scan builder — so DML rewrites exactly
  * the files a pruned read with the same pushable predicate would
  * open, and untranslatable conjuncts degrade the PLAN (all statted
  * files kept), never the answer. */
private[plans] object SnapshotDmlPlanning {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.SqlShims

  /** Writes contend on the HEAD only (the catalog contract): a DML
    * statement whose target relation resolved against a
    * stale/time-travel-pinned version must fail loudly here — the
    * executors re-plan against `vs.last` internally, so without this
    * check a pinned-table statement would silently apply to a head
    * the user never named (the SupportsDelete guard, applied to
    * every command-shaped DML). */
  def requireHead(session: SparkSession, root: String,
      pinnedVersion: Long, op: String): Unit = {
    val head = ScaleOps.snapshotVersions(session, root)
      .lastOption.getOrElse(0L)
    require(pinnedVersion == head,
      s"$op through a table pinned to v$pinnedVersion, but the head of " +
        s"$root is v$head — writes go through the head table, not a " +
        "time-travel pin")
  }

  /** AttributeReference → by-name unresolved attribute, so the
    * expression resolves against the rewrite's own scan. */
  def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CatalystAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  def plan(session: SparkSession, root: String, statsCol: Option[String],
      condition: Option[Expression])
      : (Column, Seq[ScaleOps.ColConstraint]) = {
    val pred = condition.map(e => SqlShims.column(byName(e)))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val pushable = condition.toSeq.flatMap(conjuncts)
      .flatMap(SqlShims.translateFilter)
    val vs = ScaleOps.snapshotVersions(session, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val schema = ScaleOps.snapshotSchema(session, root, vs.last)
      .getOrElse(ScaleOps.readSnapshot(session, root, Some(vs.last)).schema)
    val sb = new graft.sources.SnapshotScanBuilder(
      root, vs.last, schema, statsCol)
    sb.pushFilters(pushable.toArray)
    (pred, sb.plannedConstraints)
  }
}
