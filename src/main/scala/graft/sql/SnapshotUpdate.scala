package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, ExprId, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, LogicalPlan, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.DataType

/** Expression re-binding shared by the row-level SQL verbs: analysis-time
  * target attribute references are rewritten by exprId onto the
  * execution-time base read (`Snapshots.readVersion` of the pinned
  * version). The catalog widens integer partition columns to BIGINT while
  * the stored files keep the committed type, so a width mismatch gets a
  * lossless up-cast; assigned values are cast back to the stored column
  * type at projection time (ANSI cast — a lossy narrow fails loudly).
  */
private[sql] object DmlRebind {

  def baseAttrs(base: org.apache.spark.sql.DataFrame): Map[String, Attribute] =
    base.queryExecution.analyzed.output.map(a => a.name -> a).toMap

  def remap(e: Expression, targetName: Map[ExprId, String],
      baseAttr: Map[String, Attribute], table: String): Expression =
    e.transform {
      case a: AttributeReference if targetName.contains(a.exprId) =>
        val b = baseAttr.getOrElse(targetName(a.exprId),
          throw new IllegalStateException(s"statement references target " +
            s"column ${targetName(a.exprId)} absent from $table"))
        if (b.dataType == a.dataType) b else Cast(b, a.dataType)
      // a CORRELATED subquery carries the target's attrs twice: as the
      // expression's own outer children (the case above rebinds those) and
      // as OuterReference wrappers INSIDE the nested plan — rewrite these
      // too, or the re-analysis of the rebound predicate sees orphaned
      // exprIds. OuterReference wraps a NamedExpression, so a width
      // mismatch (catalog-widened partition int) cannot hide behind a
      // cast here; it refuses with the MERGE spelling.
      case s: SubqueryExpression =>
        s.withNewPlan(s.plan.transformAllExpressions {
          case o @ org.apache.spark.sql.catalyst.expressions.OuterReference(
              a: AttributeReference) if targetName.contains(a.exprId) =>
            val b = baseAttr.getOrElse(targetName(a.exprId),
              throw new IllegalStateException(s"subquery references target " +
                s"column ${targetName(a.exprId)} absent from $table"))
            if (b.dataType == a.dataType)
              org.apache.spark.sql.catalyst.expressions.OuterReference(b)
            else throw new UnsupportedOperationException(
              s"a correlated subquery references ${a.name}, whose stored " +
                s"type (${b.dataType.simpleString}) differs from its " +
                s"catalog-widened type (${a.dataType.simpleString}) — " +
                "spell this statement as MERGE")
          case o => o
        })
    }

  def castTo(e: Expression, dt: DataType): Column =
    if (e.dataType == dt) bridge.column(e) else bridge.column(Cast(e, dt))

  /** Inline UNCORRELATED subqueries by executing them at statement-run
    * time: `SET x = (SELECT max(…) FROM s)` becomes a literal, `WHERE k
    * IN (SELECT …)` becomes an IN over collected DISTINCT literals
    * (bounded by `spark.graft.dml.maxInlineSubqueryRows`, default 10k).
    * PAST the cap the values are not driver-collected at all: the
    * distinct key set is materialized ONCE (localCheckpoint leaf — both
    * the touched-partition discovery and the rewrite read the same
    * blocks, so they see identical values even if the subquery's source
    * moves mid-statement) and the IN stays a predicate subquery, which
    * the rewrite's existing subquery-split path evaluates as a semi join
    * against the pinned base — the scalable plan for a fact-sized key
    * set (collecting it would be O(keys) driver work and a giant literal
    * list in every task's generated code). Each such key set is handed to
    * `pinned`; the command releases it after it commits
    * ([[releasingPinned]]).
    * Runs BEFORE the rewrite evaluates anything, so the touched-partition
    * discovery and the rewrite see the SAME values (the same reason
    * clause expressions must be deterministic). Correlated subqueries are
    * refused at rewrite time ([[SnapshotUpdate.rewrite]]/
    * [[SnapshotMerge.rewrite]] `checked`) — a per-row subquery is a join;
    * spell it as MERGE.
    */
  def materializeSubqueries(spark: SparkSession, e: Expression,
      subqueryPastCap: Boolean = false,
      pinned: DataFrame => Unit = _ => ()): Expression =
    e.transformUp {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        val rows = bridge.ofRows(spark, s.plan).limit(2)
          .collect() // scalar by contract: at most 2 rows fetched
        if (rows.length > 1) throw new IllegalStateException(
          "a scalar subquery in a DML statement returned more than one row")
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          if (rows.isEmpty) null else rows(0).get(0), s.dataType)
      // an UNCORRELATED EXISTS is a run-time constant; correlated ones
      // stay in the predicate and evaluate as semi/anti joins (the
      // optimizer's predicate-subquery rewrite) against the pinned base
      case ex: org.apache.spark.sql.catalyst.expressions.Exists
          if !ex.isCorrelated =>
        org.apache.spark.sql.catalyst.expressions.Literal(
          bridge.ofRows(spark, ex.plan).limit(1).collect().nonEmpty,
          org.apache.spark.sql.types.BooleanType)
      case in: org.apache.spark.sql.catalyst.expressions.InSubquery
          if !in.query.isCorrelated =>
        val cap = spark.conf
          .getOption("spark.graft.dml.maxInlineSubqueryRows")
          .map(_.toInt).getOrElse(10000)
        if (in.values.lengthCompare(1) != 0) throw new
            UnsupportedOperationException(
          "multi-column IN subqueries in DML statements are not supported " +
            "— materialize and MERGE instead")
        // IN is set-membership: dedup BEFORE the cap (duplicate subquery
        // rows cannot change the verdict, and a 10k-dup key list would
        // refuse/inline for nothing)
        val df = bridge.ofRows(spark,
          in.query.plan.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
          .distinct()
        val rows = df.limit(cap + 1).collect() // capped: joined past it
        if (rows.length > cap) {
          if (!subqueryPastCap) throw new IllegalArgumentException(
            s"an IN subquery in a DML statement returned more than $cap " +
              "rows (spark.graft.dml.maxInlineSubqueryRows) — materialize " +
              "it and use MERGE instead")
          // Filter-position predicate: keep the IN a subquery over the
          // MATERIALIZED distinct key set (one localCheckpoint leaf shared
          // by discovery and rewrite — identical values by construction)
          // and let the optimizer's predicate-subquery rewrite plan it as
          // a semi join. No driver materialization of a fact-sized list.
          val mat = graft.operators.Materialize.once(df)
          pinned(mat) // the caller releases it once its command commits
          org.apache.spark.sql.catalyst.expressions.InSubquery(in.values,
            in.query.withNewPlan(mat.queryExecution.analyzed))
        } else {
          val dt = in.query.plan.output.head.dataType
          val lits = rows.toSeq.map(r =>
            org.apache.spark.sql.catalyst.expressions.Literal.create(r.get(0), dt))
          if (lits.isEmpty)
            org.apache.spark.sql.catalyst.expressions.Literal.create(false,
              org.apache.spark.sql.types.BooleanType)
          else org.apache.spark.sql.catalyst.expressions.In(in.values.head, lits)
        }
    }

  /** Run a command `body` that pins key sets through
    * [[materializeSubqueries]]' `pinned` hook, and release them once it
    * returns (committed or failed): the pinned blocks would otherwise stay
    * in block-manager storage until the ContextCleaner happens to collect
    * them — a slow leak across the statements of a long session.
    */
  def releasingPinned[T](body: (DataFrame => Unit) => T): T = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body(pinned += _)
    finally pinned.foreach(graft.operators.Materialize.release)
  }

  /** STATIC partition-pruning predicate from a collected touched-partition
    * list (dimension-sized): unlike a broadcast-semi-join against the same
    * list, a literal predicate prunes at the FILE INDEX at plan time — no
    * DPP heuristics involved. None past `max` tuples (the rewrite is
    * table-wide anyway) — callers then skip pruning.
    */
  def partitionPredicate(partitionCols: Seq[String],
      touched: Seq[org.apache.spark.sql.Row], max: Int = 4096)
      : Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (touched.size > max) None
    else if (touched.isEmpty) Some(lit(false))
    else if (partitionCols.lengthCompare(1) == 0)
      Some(col(partitionCols.head).isin(touched.map(_.get(0)): _*))
    else Some(touched.map(r => partitionCols.zipWithIndex
        .map { case (c, i) => col(c) === lit(r.get(i)) }.reduce(_ && _))
      .reduce(_ || _))
  }

  /** UPDATE's and MERGE's partition-pruned copy-on-write commit, pinned
    * to version `base`: the distinct `touched` partition tuples (layout
    * order; partition-value-sized, never row-sized) are collected and
    * spelled through [[graft.lake.PartitionPath]], and exactly those
    * partitions are replaced by `result`'s rows in them (a literal
    * [[partitionPredicate]], past its cap a broadcast semi join). No
    * touched partition publishes nothing. */
  def commitTouched(result: DataFrame, touched: DataFrame, root: String,
      table: String, partitionCols: Seq[String], statsCols: Seq[String],
      operation: String, base: Long, changes: Option[DataFrame]): Unit = {
    val spark = result.sparkSession
    val rows = touched.distinct().collect().toSeq
    if (rows.isEmpty) return
    val prefixes = rows.map(r =>
      graft.lake.PartitionPath.of(spark, touched.schema, r.toSeq))
    val commitDf = partitionPredicate(partitionCols, rows)
      .map(result.filter)
      .getOrElse(result.join(broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), touched.schema)),
        partitionCols, "left_semi"))
    graft.lake.Snapshots.commitReplacingPrefixes(commitDf, root, table,
      partitionCols, statsCols, prefixes, operation = operation,
      expectedBase = Some(base), changes = changes)
  }
}

/** `UPDATE graft.t SET … [WHERE …]` over a Snapshots-versioned table —
  * the first statement a SQL user types to correct data, mechanically a
  * conditional projection committed copy-on-write (no join at all: unlike
  * MERGE there is no second relation, so the rewrite is
  * `when(cond, value).otherwise(col)` per assigned column).
  *
  * Same deployment model as [[SnapshotMergeRule]]: a resolution rule
  * behind `spark.sql.extensions`, rewriting the resolved `UpdateTable`
  * onto a V1 command that owns its commit. Execution is partition-pruned:
  * only partitions holding predicate-matching rows are replaced (plus the
  * NEW home partitions when an assignment moves rows across the partition
  * layout); the commit is pinned to the base version (concurrent commit →
  * retryable `ConcurrentModificationException`). Any deterministic
  * predicate/value over the target's columns is supported — predicates
  * are EVALUATED by Spark, not translated to source filters (contrast
  * `DELETE FROM`, whose merge-on-read vectors require translatable
  * predicates). Uncorrelated scalar/IN subqueries inline at run time
  * ([[DmlRebind.materializeSubqueries]]); correlated ones refuse loudly
  * (a per-row subquery is a join — spell it as MERGE).
  *
  * An UPDATE whose predicate matches no row is a no-op: no new version is
  * published. An UPDATE of an unpartitioned table rewrites the table —
  * the documented copy-on-write cost, same as an unpartitioned MERGE.
  */
class SnapshotUpdateRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(tbl, assignments, condition)
        if u.childrenResolved && assignments.forall(_.resolved) &&
          condition.forall(_.resolved) &&
          SnapshotMerge.targetOf(tbl).isDefined =>
      val (rel, target) = SnapshotMerge.targetOf(tbl).get
      SnapshotUpdate.rewrite(rel, target, assignments, condition)
    // `DELETE FROM … WHERE <any deterministic predicate>`: Spark's own
    // SupportsDelete path serves only V2-translatable filters (no modulo,
    // no function calls, no subqueries). With the extensions installed,
    // conditioned deletes route here instead and the predicate is
    // EVALUATED (Snapshots.deleteWhere's merge-on-read vector), with
    // uncorrelated subqueries inlined — extension-free sessions keep the
    // translatable-filter path
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
        if d.childrenResolved && d.condition.resolved &&
          SnapshotMerge.targetOf(d.table).isDefined =>
      val (rel, target) = SnapshotMerge.targetOf(d.table).get
      SnapshotUpdate.rewriteDelete(rel, target, d.condition)
    // `TRUNCATE TABLE t` — the statement resolves the plain READ table
    // (no write privileges are requested for TRUNCATE), which carries no
    // truncate capability; route it onto the protocol's zero-file
    // manifest (`Snapshots.deleteAll`, the same verb as an unconditioned
    // DELETE FROM — schema and partition layout survive, q225 machinery)
    case t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable =>
      t.table match {
        case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable =>
          (r.catalog, Option(r.identifier)) match {
            case (c: GraftCatalog, Some(id)) if c.dmlShapeFor(id).isDefined =>
              val shape = c.dmlShapeFor(id).get
              SnapshotTruncateCommand(shape.lakeRoot, shape.lakeTable)
            case _ => t
          }
        case _ => t
      }
    // `INSERT OVERWRITE` in dynamic partition-overwrite mode: Spark has
    // no V1 fallback exec for OverwritePartitionsDynamic, so the verb is
    // rewritten onto the commit protocol directly (Snapshots.commit IS
    // dynamic overwrite) — same deployment pattern as MERGE/UPDATE.
    // outputResolved (not just query.resolved) gates the claim: the
    // rewrite must only fire AFTER ResolveOutputRelation aligned the
    // query's columns/casts to the table, or the command would commit the
    // raw SELECT output (unaliased expression names, missing casts).
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
        if o.query.resolved && o.outputResolved &&
          SnapshotMerge.targetOf(o.table).isDefined =>
      val (_, target) = SnapshotMerge.targetOf(o.table).get
      SnapshotDynamicOverwriteCommand(target.lakeRoot, target.lakeTable,
        target.lakePartitionCols, target.lakeStatsCols, o.query)
  }
}

/** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`: partitions
  * present in the query result are replaced, all others carry — exactly
  * [[graft.lake.Snapshots.commit]]'s contract. The query arrives aligned
  * (ResolveInsertInto adds the casts/projections).
  */
case class SnapshotDynamicOverwriteCommand(
    root: String, table: String,
    partitionCols: Seq[String], statsCols: Seq[String],
    query: LogicalPlan)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    graft.lake.Snapshots.commit(bridge.ofRows(spark, query),
      root, table, partitionCols, statsCols)
    Seq.empty
  }
}

private[sql] object SnapshotUpdate {

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"UPDATE of a Snapshots-versioned table does not support $what")

  /** The resolved update program, carried opaquely inside the command
    * (same contract as [[SnapshotMerge.MergeProgram]]). */
  case class UpdateProgram(
      assigns: Seq[(String, Expression)],
      cond: Option[Expression],
      targetName: Map[ExprId, String])

  /** Rewrite a conditioned DELETE onto [[SnapshotDeleteCommand]] — the
    * general-predicate spelling of `Snapshots.deleteWhere` (the
    * SupportsDelete path keeps serving translatable filters on
    * extension-free sessions). Same expression rules as UPDATE: any
    * deterministic predicate over the target's columns, uncorrelated
    * scalar/IN subqueries inline at run time, correlated ones refuse.
    */
  def rewriteDelete(rel: DataSourceV2Relation, target: SnapshotDmlTarget,
      condition: Expression): LogicalPlan = {
    val targetAttrs = rel.outputSet
    condition.foreach {
      // scalar subqueries must stay uncorrelated (a per-row scalar is a
      // join — MERGE); EXISTS and IN may be CORRELATED: they evaluate as
      // semi/anti joins against the pinned base (the optimizer's
      // predicate-subquery rewrite), and the delete vector stores the
      // distinct outer-referenced column tuples of matching rows — exact,
      // because the predicate's verdict is a function of those columns
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
          if s.isCorrelated =>
        refuse("a CORRELATED scalar subquery in the DELETE predicate (a " +
          "per-row scalar subquery is a join — spell it as MERGE)")
      case _: org.apache.spark.sql.catalyst.expressions.ScalarSubquery |
          _: org.apache.spark.sql.catalyst.expressions.Exists |
          _: org.apache.spark.sql.catalyst.expressions.InSubquery |
          _: org.apache.spark.sql.catalyst.expressions.ListQuery => ()
      case s: SubqueryExpression =>
        refuse(s"a ${s.prettyName} subquery in the DELETE predicate")
      case _ => ()
    }
    if (!condition.deterministic)
      refuse(s"a non-deterministic DELETE predicate (got $condition)")
    if (!condition.references.subsetOf(targetAttrs))
      refuse(s"a DELETE predicate referencing columns outside the table " +
        s"(got $condition)")
    SnapshotDeleteCommand(target.lakeRoot, target.lakeTable,
      DeleteProgram(condition, rel.output.map(a => a.exprId -> a.name).toMap))
  }

  /** The resolved delete predicate, carried OPAQUELY (a plain case class
    * — Catalyst's expression traversals must not see the condition: its
    * analysis-time attrs and inline-later subqueries are out of scope for
    * the command node; same contract as [[UpdateProgram]]).
    */
  case class DeleteProgram(cond: Expression, targetName: Map[ExprId, String])

  def rewrite(rel: DataSourceV2Relation, target: SnapshotDmlTarget,
      assignments: Seq[Assignment], condition: Option[Expression])
      : LogicalPlan = {
    val targetAttrs = rel.outputSet
    def checked(e: Expression, what: String,
        predicatePosition: Boolean = false): Unit = {
      // uncorrelated scalar/IN/EXISTS subqueries materialize at run time
      // (DmlRebind.materializeSubqueries). In the WHERE predicate,
      // CORRELATED EXISTS/IN are also fine — they evaluate as semi/anti
      // joins against the pinned base. In a SET value a correlated
      // subquery stays refused (a per-row value subquery is a join —
      // MERGE), as does EXISTS (a boolean-valued assignment from a join
      // verdict — MERGE).
      e.foreach {
        case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
            if s.isCorrelated =>
          refuse(s"a CORRELATED scalar subquery in $what (a per-row " +
            "scalar subquery is a join — spell it as MERGE)")
        case s @ (_: org.apache.spark.sql.catalyst.expressions.Exists |
            _: org.apache.spark.sql.catalyst.expressions.InSubquery)
            if !predicatePosition &&
              s.asInstanceOf[Expression].exists {
                case q: SubqueryExpression => q.isCorrelated
                case _ => false
              } =>
          refuse(s"a CORRELATED predicate subquery in $what (only the " +
            "WHERE clause evaluates EXISTS/IN as joins — spell the " +
            "assignment as MERGE)")
        // ListQuery is the accepted InSubquery's own child node
        case _: org.apache.spark.sql.catalyst.expressions.ScalarSubquery |
            _: org.apache.spark.sql.catalyst.expressions.Exists |
            _: org.apache.spark.sql.catalyst.expressions.InSubquery |
            _: org.apache.spark.sql.catalyst.expressions.ListQuery => ()
        case s: SubqueryExpression =>
          refuse(s"a ${s.prettyName} subquery in $what (only scalar, IN " +
            "and EXISTS subqueries are supported — materialize it and " +
            "MERGE instead)")
        case _ => ()
      }
      // the WHERE predicate and SET values are evaluated once for
      // touched-partition discovery and again for the rewrite — the doc
      // promises "any deterministic predicate/value" and this enforces it
      if (!e.deterministic)
        refuse(s"a non-deterministic expression in $what (got $e)")
      if (!e.references.subsetOf(targetAttrs))
        refuse(s"$what referencing columns outside the table (got $e)")
    }
    condition.foreach(checked(_, "the WHERE predicate",
      predicatePosition = true))
    val assigns = assignments.map { a =>
      val name = a.key match {
        case t: AttributeReference if targetAttrs.contains(t) => t.name
        case other => refuse(s"assigning a non-column target $other")
      }
      checked(a.value, s"the value assigned to $name")
      (name, a.value)
    }
    val dups = assigns.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }
    if (dups.nonEmpty) refuse(s"assigning ${dups.mkString(", ")} twice")
    // identity assignments (alignment rules pad unassigned columns with
    // `c = c`) are no-ops and drop
    val effective = assigns.filterNot { case (n, v) =>
      v match {
        case a: AttributeReference => targetAttrs.contains(a) && a.name == n
        case _ => false
      }
    }
    if (effective.isEmpty) refuse("an all-identity SET list")
    SnapshotUpdateCommand(
      target.lakeRoot, target.lakeTable,
      target.lakePartitionCols, target.lakeStatsCols,
      UpdateProgram(effective, condition,
        rel.output.map(a => a.exprId -> a.name).toMap))
  }
}

/** `TRUNCATE TABLE` over a versioned table: publish a zero-file manifest
  * ([[graft.lake.Snapshots.deleteAll]]) — schema, partition layout, and
  * stats-sidecar schema carry forward, prior versions stay readable.
  */
case class SnapshotTruncateCommand(root: String, table: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.lake.Snapshots.deleteAll(spark, root, table)
    Seq.empty
  }
}

/** The executable half of the generalized `DELETE FROM … WHERE …`
  * ([[SnapshotUpdate.rewriteDelete]]): inline uncorrelated subqueries,
  * rebind target references BY NAME (deleteWhere resolves the predicate
  * against its own pinned read), and publish a merge-on-read vector via
  * [[graft.lake.Snapshots.deleteWhere]] — vector-size cap, no-match
  * no-op, and addedAt sequence rule all inherited. A constant-true
  * predicate (no WHERE) truncates via [[graft.lake.Snapshots.deleteAll]].
  */
case class SnapshotDeleteCommand(
    root: String, table: String,
    program: SnapshotUpdate.DeleteProgram)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] =
    DmlRebind.releasingPinned(runPinned(spark, _))

  private def runPinned(spark: SparkSession, pin: DataFrame => Unit): Seq[Row] = {
    // resolve latest ONCE, before the subqueries evaluate: everything this
    // statement reads (uncorrelated subqueries — possibly of this very
    // table — and the delete scan) must see one version, and a commit
    // landing in between surfaces the retryable CME, exactly like
    // MERGE/UPDATE's expectedBase pin
    val latest = graft.lake.Snapshots.latestVersion(spark, root, table)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $table to delete from"))
    val inlined = DmlRebind.materializeSubqueries(spark, program.cond,
      subqueryPastCap = true, pin) // filter position: a big IN stays a semi join
    inlined match {
      case org.apache.spark.sql.catalyst.expressions.Literal(true,
          org.apache.spark.sql.types.BooleanType) =>
        graft.lake.Snapshots.deleteAll(spark, root, table)
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v == null || v == false =>
        () // a constant-false/null predicate deletes nothing
      case _ =>
        // rebind analysis-time target attrs onto deleteWhere's OWN pinned
        // read (resolved attr → resolved attr: placeholders would break
        // expressions whose child replacement eagerly types, e.g. With)
        graft.lake.Snapshots.deleteWhereBound(spark, root, table, cur =>
          bridge.column(DmlRebind.remap(inlined, program.targetName,
            DmlRebind.baseAttrs(cur), table)),
          expectedBase = Some(latest))
    }
    Seq.empty
  }
}

/** The executable half of [[SnapshotUpdateRule]]. */
case class SnapshotUpdateCommand(
    root: String, table: String,
    partitionCols: Seq[String], statsCols: Seq[String],
    program: SnapshotUpdate.UpdateProgram)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] =
    DmlRebind.releasingPinned(runPinned(spark, _))

  private def runPinned(spark: SparkSession, pin: DataFrame => Unit): Seq[Row] = {
    import graft.lake.Snapshots
    val latest = Snapshots.latestVersion(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshot of $table to update"))
    val base = Snapshots.readVersion(spark, root, table, latest)
    val baseAttr = DmlRebind.baseAttrs(base)
    def remap(e: Expression): Expression =
      DmlRebind.remap(e,
        program.targetName, baseAttr, s"$table@v$latest")
    // inline uncorrelated subqueries ONCE, before anything evaluates —
    // discovery and rewrite must see identical values
    val assignOf: Map[String, Expression] = program.assigns.map {
      case (n, v) => (n, DmlRebind.materializeSubqueries(spark, v)) }.toMap
    val cond = program.cond.map(DmlRebind.materializeSubqueries(spark, _,
      subqueryPastCap = true, pin)) // WHERE is filter position: big IN → semi join
    // null predicate = false, per SQL WHERE semantics
    val hit = cond
      .map(e => coalesce(bridge.column(remap(e)), lit(false)))
      .getOrElse(lit(true))
    // a predicate that still carries subqueries after inlining (correlated
    // EXISTS/IN) cannot ride a projection's `when` — predicate subqueries
    // evaluate only under Filter, where the optimizer rewrites them to
    // semi/anti (existence) joins. Split instead: assigned projection over
    // the hit rows ∪ untouched miss rows — an exact partition of the base
    // (`hit` is never null after the coalesce).
    val condHasSubquery = cond.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
    // the assigned projection over already-hit-filtered rows (assignments
    // apply unconditionally there) — the subquery-split rewrite path and
    // the CDC postimage both use it
    lazy val assignedCols = base.schema.fields.toSeq.map { f =>
      assignOf.get(f.name)
        .map(v => DmlRebind.castTo(remap(v), f.dataType).as(f.name))
        .getOrElse(bridge.column(baseAttr(f.name)).as(f.name))
    }
    // CDC capture (spark.graft.cdc.write): hit rows as preimage+postimage
    // pairs — the change files make this copy-on-write version exactly
    // replayable by the change feed instead of a refusal
    val changes: Option[org.apache.spark.sql.DataFrame] =
      if (!graft.sql.SnapshotCdc.enabled(spark)) None
      else {
        graft.sql.SnapshotCdc.checkReserved(base.columns.toSeq, table)
        val hitRows = base.filter(hit)
        Some(hitRows
          .withColumn(CdfSource.ChangeType, lit("update_preimage"))
          .unionByName(hitRows.select(assignedCols: _*)
            .withColumn(CdfSource.ChangeType, lit("update_postimage"))))
      }
    val updated = if (condHasSubquery) {
      base.filter(hit).select(assignedCols: _*)
        .unionByName(base.filter(!hit))
    } else {
      val outCols = base.schema.fields.toSeq.map { f =>
        assignOf.get(f.name) match {
          case Some(v) =>
            when(hit, DmlRebind.castTo(remap(v), f.dataType))
              .otherwise(bridge.column(baseAttr(f.name))).as(f.name)
          case None => bridge.column(baseAttr(f.name)).as(f.name)
        }
      }
      base.select(outCols: _*)
    }

    if (partitionCols.isEmpty) {
      Snapshots.commitFullReplace(updated, root, table, statsCols,
        operation = "update", expectedBase = Some(latest),
        changes = changes)
    } else {
      // partition-pruned copy-on-write: hit rows' OLD partitions, plus
      // their NEW partitions when the SET list rewrites a partition column
      val oldTouched = base.filter(hit).select(partitionCols.map(col): _*)
      val touched =
        if (partitionCols.exists(assignOf.contains)) {
          // rows are already hit-filtered, so the assignment applies
          // unconditionally (no `when(hit, …)` — a predicate subquery may
          // only evaluate under the Filter, never in this projection)
          val newPart = partitionCols.map { p =>
            assignOf.get(p)
              .map(v => DmlRebind.castTo(remap(v), base.schema(p).dataType))
              .getOrElse(bridge.column(baseAttr(p))).as(p)
          }
          oldTouched.unionByName(base.filter(hit).select(newPart: _*))
        } else oldTouched
      DmlRebind.commitTouched(updated, touched, root, table,
        partitionCols, statsCols, "update", latest, changes)
    }
    Seq.empty
  }
}
