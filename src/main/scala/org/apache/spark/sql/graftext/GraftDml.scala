package org.apache.spark.sql.graftext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, ExprId, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.sources.{GraftSnapshotTable, SnapshotStore}

/** Row-level SQL DML for graft snapshot tables — `DELETE FROM graft.t`,
  * `UPDATE graft.t SET …` and `MERGE INTO graft.t USING … ON …` — via a
  * post-hoc resolution rule that swaps the resolved logical command for a
  * runnable one executing over [[SnapshotStore]]'s rebase-retry commit
  * protocol. This is the published lakehouse architecture for engines
  * whose write path predates (or sidesteps) DSv2 row-level operations:
  * intercept the ANALYZED `DeleteFromTable`/`UpdateTable`/
  * `MergeIntoTable` (conditions and assignments fully resolved against
  * the relation's attributes), re-plan them as DataFrame computations,
  * and commit.
  *
  * DELETE and UPDATE are each one [[SnapshotStore.updateWhere]] call over
  * the snapshot and layout the analyzer resolved, the function the Scala
  * [[SnapshotStore.delete]] runs too. [[SnapshotStore.copyOnWrite]] picks
  * the mode: a partition-aligned predicate (only the partition column, or
  * none) rewrites the touched partitions — the whole partition rewrites
  * anyway, and COW leaves no DV debt for later reads to pay; any other
  * predicate runs MERGE-ON-READ at row granularity (the Delta-DV model),
  * cost ∝ MATCHED rows: their old positions are masked by one
  * deletion-vector sidecar and their new images append as new files, in
  * ONE atomic commit, every base data file byte-untouched (mtime-proof
  * spec-gated). MERGE always runs merge-on-read
  * ([[SnapshotStore.updateRows]]). [[SnapshotStore.compact]] materializes
  * accumulated DVs back to plain files. Every command refuses a read-only
  * table (time-traveled, or partitioned with an unrecorded layout) with
  * its reason before anything runs.
  *
  * Snapshot isolation: content is computed against the version the
  * analyzer resolved; the commit rebases over concurrent commits
  * elsewhere. An UPDATE's read set is the acted rows' files (positions of
  * immutable files stay valid under concurrent appends); a MERGE with
  * matched / not-matched-by-source clauses read the WHOLE target (its
  * cardinality semantics saw every row), so any concurrent addition
  * conflicts; an insert-only MERGE rebases over concurrent appends (the
  * Delta WriteSerializable contract, documented anomaly included).
  */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case d @ DeleteFromTable(target, condition)
        if d.resolved && GraftDml.graftRelation(target).isDefined =>
      GraftDeleteCommand(target, condition)
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && GraftDml.graftRelation(target).isDefined =>
      GraftUpdateCommand(target, assignments, condition)
    case m: MergeIntoTable
        if m.resolved && GraftDml.graftRelation(m.targetTable).isDefined =>
      // WITH SCHEMA EVOLUTION needs nothing here: the table declares
      // AUTOMATIC_SCHEMA_EVOLUTION, so Spark's own resolution rule
      // (ResolveMergeIntoSchemaEvolution) already routed the add-column/
      // widen changes through the catalog's atomic alterTable and swapped
      // in the reloaded relation — by post-hoc time this merge is
      // resolved against the EVOLVED schema and converts like any other.
      GraftMergeCommand(m.targetTable, m.sourceTable, m.mergeCondition,
        m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)
  }
}

/** Every read of a graft snapshot table plans what
  * [[SnapshotStore.readAt]] plans for the version it resolved: the
  * catalog table's relation (SQL) and the `format("graft")` relation are
  * each replaced by readAt's analyzed plan under a `Project` that keeps
  * the relation's output expression ids, so whatever was resolved above
  * binds unchanged (Delta's V2→V1 relation swap). Injected after
  * [[GraftDmlRule]]: the DML commands keep their target relation, and
  * their reads of it (`GraftDml.ofRows`) run this rule when analyzed.
  */
class GraftReadRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSnapshotTable] =>
      readAs(r.output, r.table.asInstanceOf[GraftSnapshotTable].snapshot)
    case r: LogicalRelation if r.relation.isInstanceOf[GraftSnapshotRelation] =>
      readAs(r.output, r.relation.asInstanceOf[GraftSnapshotRelation].snapshot)
  }

  private def readAs(output: Seq[Attribute], s: SnapshotStore.Snapshot): LogicalPlan = {
    val read = SnapshotStore.readAt(spark, s).queryExecution.analyzed
    Project(output.zip(read.output).map { case (a, r) => Alias(r, a.name)(exprId = a.exprId) },
      read)
  }
}

private[graftext] object GraftDml {

  /** Marker column: whether an acted row re-appends (update) or only
    * position-deletes (delete) — [[SnapshotStore.updateRows]]' keepCol.
    */
  val Keep = "__graft_keep"

  /** The graft snapshot relation under `plan` (stripping aliases), if any. */
  def graftRelation(plan: LogicalPlan): Option[DataSourceV2Relation] = plan match {
    case SubqueryAlias(_, child) => graftRelation(child)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSnapshotTable] => Some(r)
    case _ => None
  }

  /** The graft snapshot table `plan` resolved to. */
  def table(plan: LogicalPlan): GraftSnapshotTable = graftRelation(plan).getOrElse(
    throw new IllegalStateException(s"not a graft snapshot relation: $plan"))
    .table.asInstanceOf[GraftSnapshotTable]

  /** Column name by expression id for the attributes `plan` outputs. */
  def names(plan: LogicalPlan): Map[ExprId, String] =
    plan.output.map(a => a.exprId -> a.name).toMap

  /** DataFrame over the RESOLVED plan — attribute ids are preserved, so
    * Columns built from the command's resolved expressions bind exactly.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def toColumn(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A resolved expression REBOUND BY NAME: every attribute reference is
    * replaced by an unresolved one carrying the name `names` assigns its
    * exprId, so the Column re-resolves against a DIFFERENT frame exposing
    * those names — the bridge from the analyzer's resolved relation to
    * the fresh scans [[SnapshotStore.updateWhere]] and MERGE compute over.
    * Attributes outside `names` (none, for a resolved DML command) pass
    * through untouched.
    */
  def rebind(e: Expression, names: Map[ExprId, String]): Column =
    toColumn(e.transform {
      case ar: AttributeReference if names.contains(ar.exprId) =>
        UnresolvedAttribute.quoted(names(ar.exprId))
    })

  /** Assignments keyed by top-level target column name. Nested-field
    * assignments refuse loudly (a silent partial-struct write would be
    * data corruption, not a feature gap).
    */
  def assignmentMap(assignments: Seq[Assignment],
                    names: Map[ExprId, String]): Map[String, Column] =
    assignments.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> rebind(a.value, names)
        case other => throw new UnsupportedOperationException(
          "graft DML supports top-level column assignments only; got " +
            other.sql)
      }
    }.toMap

  /** A clause condition as a row predicate: absent = always applies,
    * NULL-valued = does not apply (the SQL three-valued contract).
    */
  def clauseCond(c: Option[Expression], names: Map[ExprId, String]): Column =
    coalesce(c.map(rebind(_, names)).getOrElse(lit(true)), lit(false))
}

/** `DELETE FROM <graft table> [WHERE condition]` as one
  * [[SnapshotStore.updateWhere]] commit with nothing assigned. The
  * condition must be a conjunction Spark could push to a source
  * (`DataSourceStrategy.translateFilter`); any other conjunct refuses the
  * statement before anything runs, as does a read-only table. A
  * partition-aligned predicate (or none) rewrites — wholly-deleted
  * partitions drop their files from the manifest without writing
  * anything; a row-level predicate masks rows with deletion vectors —
  * cost ∝ matching rows, one KB-sized sidecar.
  */
case class GraftDeleteCommand(target: LogicalPlan, condition: Expression)
  extends LeafRunnableCommand with PredicateHelper {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftDml.table(target)
    val partCol = table.writeLayout()
    splitConjunctivePredicates(condition).foreach { c =>
      if (DataSourceStrategy.translateFilter(c, supportNestedPredicatePushdown = true).isEmpty)
        throw new UnsupportedOperationException(
          s"${table.name}: DELETE supports only predicates a source filter expresses; got ${c.sql}")
    }
    SnapshotStore.updateWhere(spark, table.snapshot,
      GraftDml.rebind(condition, GraftDml.names(target)), None, partCol,
      SnapshotStore.copyOnWrite(condition.references.map(_.name).toSet, partCol))
    Seq.empty
  }
}

/** `UPDATE <graft table> SET assignments [WHERE condition]` as one
  * [[SnapshotStore.updateWhere]] commit. A partition-aligned predicate
  * (or none, the whole-table form) rewrites the touched partitions from
  * exactly their files; a row-level one runs merge-on-read — one position
  * scan finds the matched rows, their old positions mask via a
  * deletion-vector sidecar, their updated images append, base files
  * byte-untouched. Either way assignments may change the partition
  * column — updated rows land wherever their new value falls.
  */
case class GraftUpdateCommand(target: LogicalPlan,
                              assignments: Seq[Assignment],
                              condition: Option[Expression])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftDml.table(target)
    val partCol = table.writeLayout()
    val names = GraftDml.names(target)
    SnapshotStore.updateWhere(spark, table.snapshot,
      condition.fold(lit(true))(GraftDml.rebind(_, names)),
      Some(GraftDml.assignmentMap(assignments, names)), partCol,
      SnapshotStore.copyOnWrite(condition.fold(Set.empty[String])(_.references.map(_.name).toSet),
        partCol))
    Seq.empty
  }
}

/** `MERGE INTO <graft table> t USING <source> s ON cond` with the full
  * clause matrix — WHEN MATCHED [AND c] THEN UPDATE/DELETE, WHEN NOT
  * MATCHED [AND c] THEN INSERT, WHEN NOT MATCHED BY SOURCE [AND c] THEN
  * UPDATE/DELETE — executed MERGE-ON-READ:
  *
  *   - matched pairs come from ONE inner join of the position scan with
  *     the source; the first applicable clause decides act/keep/values
  *     (rows no clause claims are NOT touched — their files never
  *     rewrite, where the previous copy-on-write shape re-wrote every
  *     scoped row);
  *   - NOT MATCHED inserts come from a source-side anti join;
  *   - NOT MATCHED BY SOURCE rows from a target-side anti join;
  *   - everything commits atomically as one DV sidecar + one batch of
  *     appended files ([[SnapshotStore.updateRows]]).
  *
  * An insert-only MERGE (no matched / not-matched-by-source clauses) is
  * a pure anti-join append: target rows are never fanned out through a
  * join, so a source row matching N target rows — or N source rows
  * matching one target row — cannot duplicate target content (the ADVICE
  * r14 defect in the full-outer-join shape).
  *
  * The ANSI cardinality rule is enforced on the PHYSICAL row identity
  * (`__file`, `__pos` — stable under stage retry, unlike
  * monotonically_increasing_id): a target row matching more than one
  * source row under any WHEN MATCHED clause set fails the statement
  * before anything is written.
  */
case class GraftMergeCommand(target: LogicalPlan,
                             source: LogicalPlan,
                             mergeCond: Expression,
                             matched: Seq[MergeAction],
                             notMatched: Seq[MergeAction],
                             notMatchedBySource: Seq[MergeAction])
  extends LeafRunnableCommand {

  /** (appliesCond, None=delete | Some(assignments)) for one clause. */
  private def clause(a: MergeAction, names: Map[ExprId, String])
      : (Column, Option[Map[String, Column]]) =
    a match {
      case DeleteAction(c) => (GraftDml.clauseCond(c, names), None)
      case UpdateAction(c, asg, _) =>
        (GraftDml.clauseCond(c, names), Some(GraftDml.assignmentMap(asg, names)))
      case InsertAction(c, asg) =>
        (GraftDml.clauseCond(c, names), Some(GraftDml.assignmentMap(asg, names)))
      case other => throw new UnsupportedOperationException(
        s"unsupported MERGE action: $other")
    }

  /** Fold a clause list into (someClauseApplies, keepRow, value per
    * column): first clause whose condition holds wins; keep = the winning
    * clause is an update/insert (false = delete); none applies →
    * (false, false, defaults).
    */
  private def branch(actions: Seq[MergeAction],
                     defaults: Map[String, Column],
                     names: Map[ExprId, String])
      : (Column, Column, Map[String, Column]) =
    actions.foldRight((lit(false), lit(false), defaults)) {
      case (a, (appliedElse, keepElse, valsElse)) =>
        val (c, asg) = clause(a, names)
        val applied = when(c, lit(true)).otherwise(appliedElse)
        val keep = when(c, lit(asg.isDefined)).otherwise(keepElse)
        val vals = defaults.map { case (name, dflt) =>
          val thenV = asg.fold(dflt)(_.getOrElse(name, dflt))
          name -> when(c, thenV).otherwise(valsElse(name))
        }
        (applied, keep, vals)
    }

  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftDml.table(target)
    table.writeLayout() // refuses a read-only table with its reason
    val (location, base) = (table.snapshot.root, table.snapshot.version)
    val tCols = target.output.map(_.name)
    Seq("__file", "__pos", GraftDml.Keep).foreach { m =>
      require(!tCols.contains(m), s"MERGE reserves the column name $m")
    }
    // Source columns re-expose under positional synthetic names so the
    // rebound expressions can never collide with target names (the usual
    // MERGE has identical column names on both sides) — exprId decides
    // which side an attribute reference meant, exactly as the analyzer
    // resolved it.
    val sNames = source.output.zipWithIndex
      .map { case (a, i) => a.exprId -> s"__graft_s$i" }.toMap
    val names = sNames ++ GraftDml.names(target)
    val sR = {
      val s0 = GraftDml.ofRows(spark, source)
      s0.select(source.output.zipWithIndex.map { case (a, i) =>
        GraftDml.toColumn(a).as(s"__graft_s$i") }: _*)
    }
    val cond = GraftDml.rebind(mergeCond, names)
    // The ON condition's target-side equi-join columns, recorded in the
    // commit manifest as its change key: changes() pairs this merge's
    // delete+insert rows into update_preimage/update_postimage images
    // for downstream incremental consumers (the Delta CDF contract).
    // Declared ONLY when EVERY conjunct is a target-source equi
    // comparison: a residual predicate (t.k=s.k AND t.x>5) means rows can
    // be inserted and deleted under the SAME key value in one commit
    // without being an update (the non-equi part decided matching), so
    // value-level pairing would mislabel them — such commits stay keyless
    // and changes() keeps plain insert/delete labels.
    val keyCols: Option[Seq[String]] = {
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      val (tSet, sSet) = (target.outputSet, source.outputSet)
      val perConjunct = conjuncts(mergeCond).map {
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if tSet.contains(l) && sSet.contains(r) => Some(l.name)
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if sSet.contains(l) && tSet.contains(r) => Some(r.name)
        case _ => None
      }
      if (perConjunct.forall(_.isDefined)) Some(perConjunct.flatten.distinct)
      else None
    }
    val changeKey = keyCols.filter(_.nonEmpty)
    val tVals = tCols.map(c => c -> col(c)).toMap
    val nullVals = table.schema.fields
      .map(f => f.name -> lit(null).cast(f.dataType)).toMap

    // NOT MATCHED inserts: a source-side anti join against the LIVE rows
    // (DV-masked read), clause-filtered — never touches target content.
    val inserts = if (notMatched.isEmpty) None else {
      val sOnly = sR.join(
        SnapshotStore.readAt(spark, table.snapshot), cond, "left_anti")
      val (appliedI, _, valsI) = branch(notMatched, nullVals, names)
      Some(sOnly.filter(appliedI).select(tCols.map(c => valsI(c).as(c)): _*))
    }

    // Acted rows (position-deleted, optionally re-appended): matched
    // pairs under WHEN MATCHED clauses + target-only rows under WHEN NOT
    // MATCHED BY SOURCE clauses. Computed over ONE position scan.
    val acted: Option[DataFrame] =
      if (matched.isEmpty && notMatchedBySource.isEmpty) None
      else {
        val tPos = SnapshotStore.positionScan(spark, location, base)
        val actedM = if (matched.isEmpty) None else {
          val pairs = tPos.join(sR, cond, "inner")
          // ANSI cardinality: ambiguous multi-source matches fail the
          // statement before anything is written. Bounded: matched pairs
          // only, keyed by the physical row identity.
          val dup = pairs.groupBy(col("__file"), col("__pos"))
            .agg(count(lit(1)).as("__graft_n"))
            .filter(col("__graft_n") > 1)
          if (!dup.isEmpty) throw new IllegalStateException(
            "MERGE: a target row matched multiple source rows — the update/" +
              "delete is ambiguous (ANSI cardinality violation); deduplicate " +
              "the source on the merge key")
          val (appliedM, keepM, valsM) = branch(matched, tVals, names)
          Some(pairs.filter(appliedM).select(
            Seq(col("__file"), col("__pos"), keepM.as(GraftDml.Keep)) ++
              tCols.map(c => valsM(c).as(c)): _*))
        }
        val actedN = if (notMatchedBySource.isEmpty) None else {
          val tOnly = tPos.join(sR, cond, "left_anti")
          val (appliedN, keepN, valsN) = branch(notMatchedBySource, tVals, names)
          Some(tOnly.filter(appliedN).select(
            Seq(col("__file"), col("__pos"), keepN.as(GraftDml.Keep)) ++
              tCols.map(c => valsN(c).as(c)): _*))
        }
        (actedM.toSeq ++ actedN.toSeq).reduceOption(_.unionByName(_))
      }

    (acted, inserts) match {
      case (None, None) => () // clause-less statement: nothing to do
      case (Some(a), ins) =>
        // Matched/NMBS clauses read the whole target (cardinality + the
        // anti join semantics): any concurrent addition conflicts.
        SnapshotStore.updateRows(spark, location, base, a, GraftDml.Keep,
          ins, conflictOnAddsIn = None, changeKey = changeKey)
      case (None, Some(ins)) =>
        // Insert-only merge: blind-append conflict semantics (the Delta
        // WriteSerializable contract — rebases over concurrent appends).
        val empty = SnapshotStore.positionScan(spark, location, base)
          .filter(lit(false)).select(
            Seq(col("__file"), col("__pos"), lit(true).as(GraftDml.Keep)) ++
              tCols.map(col): _*)
        SnapshotStore.updateRows(spark, location, base, empty, GraftDml.Keep,
          Some(ins), conflictOnAddsIn = Some(Set.empty))
    }
    Seq.empty
  }
}
