package graft.sources.sql

import graft.sources.Snapshot
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, CommonExpressionRef, EqualTo, Expression, InheritAnalysisRules, RuntimeReplaceable, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.GraftShim

/** SQL DML over the snapshot store: `DELETE FROM`
  * / `UPDATE` / `MERGE INTO` on `graft.<table>`, completing the SQL
  * surface [[GraftCatalog]] opened for SELECT / INSERT / DDL — the
  * reference's consumers speak SQL (report pp.16-18), and a store a
  * dashboard can read but not correct is half a surface.
  *
  * Each verb maps onto the library primitive that already owns its
  * semantics, so SQL and library callers share ONE implementation and
  * one set of refusals:
  *
  *  - `DELETE FROM graft.t WHERE …` — NATIVE DataSourceV2:
  *    [[GraftTable]] implements `SupportsDelete`, Spark's own
  *    `DeleteFromTableExec` hands over the translated filters, and the
  *    delete commits as [[Snapshot.deleteWhereMoR]] — O(matched rows),
  *    one deletion-vector sidecar, zero data files rewritten.
  *  - `UPDATE graft.t SET … WHERE …` — Spark has no V1-write seam for
  *    row-level updates (the `SupportsRowLevelOperations` path demands
  *    a full V2 BatchWrite), so a post-hoc resolution rule
  *    ([[GraftDmlRule]], injected by [[GraftSparkSessionExtension]])
  *    replaces the analyzed `UpdateTable` with a command running
  *    [[Snapshot.updateWhere]] — the same one-vector-plus-new-images
  *    atomic commit q64 grades, O(matched rows) at any table size.
  *  - `MERGE INTO graft.t USING src ON t.k = s.k WHEN MATCHED THEN
  *    UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the upsert shape
  *    (and ONLY it: the library's merge contract is replace-or-insert
  *    by key; clause conditions, delete actions, or diverging
  *    update/insert images refuse loudly). Executes as
  *    [[Snapshot.mergeAnywhere]]: cross-partition keys located through
  *    the secondary key index (q88's contract), O(touched partitions),
  *    with the index maintained as a sibling layout of the table.
  *
  * Resolved-to-unresolved seam: the analyzed assignments and
  * conditions carry `AttributeReference`s bound to the DML statement's
  * own relation instance; the library primitives re-read the table
  * themselves, so every attribute is rewritten to its bare name
  * ([[GraftDml.unresolve]]) and re-resolves against the primitive's
  * scan — name-stable because both sides read the same recorded
  * schema. At 100 TB nothing here adds data IO: the rewrite is
  * plan-time, and each primitive keeps its own documented cost shape. */
object GraftDml {

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(what)

  /** Resolved attributes → bare names, so the expression re-resolves
    * against the executing primitive's own scan of the table.
    * Subqueries refuse LOUDLY first: their inner plans carry resolved
    * attributes of OTHER relations that the re-resolution seam cannot
    * carry across — letting one through could re-bind a name to the
    * wrong relation silently, the exact class of bug a loud boundary
    * exists to prevent. (UPDATE/DELETE statements with subqueries
    * never reach this seam — they route through the pre-materializing
    * commands; this backstop fires only for MERGE expressions.) */
  private def unresolve(e: Expression): Expression = {
    e.foreach {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        unsupported(
          s"subqueries are not supported in graft MERGE expressions " +
          s"(got '${s.sql}') — pre-compute the value into the USING " +
          "source (UPDATE and DELETE pre-materialize scalar and IN " +
          "subqueries automatically)")
      case _ => ()
    }
    inlineReplacements(e).transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
  }

  /** `InheritAnalysisRules` expressions (BETWEEN, NULLIF, …) hold their
    * arguments as parameters and expose only `replacement` as a child,
    * so a `transform` rewrites the replacement but leaves the arguments
    * resolved. Swap in the replacement, and inline the `With` common
    * expressions such replacements bind (BETWEEN binds its input once):
    * a `With` cannot be rebuilt around an unresolved definition. */
  private def inlineReplacements(e: Expression): Expression =
    e.transformUp {
      case r: RuntimeReplaceable with InheritAnalysisRules => r.replacement
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform {
          case ref: CommonExpressionRef if defs.contains(ref.id) => defs(ref.id)
        }
    }

  private def columnOf(e: Expression): Column = GraftShim.column(unresolve(e))

  /** [[unresolve]] for the general-merge seam: target attributes
    * re-resolve as `_graft_t_<name>`, source attributes as
    * `_graft_s_<name>` — matching the PREFIXED join frame
    * [[GraftMergeIntoCommand]] builds, so a condition or assignment
    * referencing `t.value` and `u.value` stays unambiguous after both
    * sides land in one joined frame. Subqueries refuse exactly as in
    * [[unresolve]]. */
  private def unresolvePrefixed(e: Expression,
      tOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Expression = {
    e.foreach {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        unsupported(
          s"subqueries are not supported in graft MERGE expressions " +
          s"(got '${s.sql}') — pre-compute the value into the USING " +
          "source (UPDATE and DELETE pre-materialize scalar and IN " +
          "subqueries automatically)")
      case _ => ()
    }
    inlineReplacements(e).transform {
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute.quoted(GraftMergeIntoCommand.TP + a.name)
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute.quoted(GraftMergeIntoCommand.SP + a.name)
      case a: AttributeReference => unsupported(
        s"MERGE expression references '${a.name}', which is neither a " +
        "target nor a source column")
    }
  }

  /** Alignment wrappers around an assignment side: the analyzer casts
    * value types and aliases star-expanded columns. */
  @annotation.tailrec
  private def strip(e: Expression): Expression = e match {
    case Alias(c, _) => strip(c)
    case Cast(c, _, _, _) => strip(c)
    case other => other
  }

  /** The graft table behind a DML target, unwrapping the alias layers
    * the parser adds; None = not ours, leave the plan for Spark. */
  @annotation.tailrec
  private def relationOf(p: LogicalPlan): Option[(GraftTable, DataSourceV2Relation)] =
    p match {
      case SubqueryAlias(_, child) => relationOf(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some((t, r))
        case _ => None
      }
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Rewrite an analyzed UPDATE on a graft table; None = not ours.
    *
    * Subqueries PRE-MATERIALIZE instead of refusing:
    * an UNCORRELATED scalar subquery anywhere in SET/WHERE executes
    * once at run time and splices back as a literal, and ONE
    * uncorrelated `IN (subquery)` as a top-level WHERE conjunct on a
    * plain column lowers onto the general-merge machinery (the
    * subquery's distinct result becomes the merge source, the residual
    * predicate the clause condition) — a real distributed semi-join,
    * never a collected value list. Correlated subqueries, EXISTS,
    * NOT IN, and multiple IN conjuncts keep refusing loudly. */
  private[sql] def updateCommand(u: UpdateTable): Option[LeafRunnableCommand] =
    relationOf(u.table).map { case (t, rel) =>
      val rawSets: Seq[(String, Expression)] = u.assignments.flatMap { a =>
        val key = strip(a.key) match {
          case ar: AttributeReference => ar
          case other => unsupported(
            s"UPDATE on graft tables assigns top-level columns only, " +
            s"got '${other.sql}'")
        }
        strip(a.value) match {
          // aligned identity assignment (col = col) — not an update
          case v: AttributeReference if v.exprId == key.exprId => None
          case _ => Some(key.name -> a.value)
        }
      }
      val hasSub = (rawSets.map(_._2) ++ u.condition).exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .SubqueryExpression]))
      if (!hasSub)
        GraftUpdateCommand(t.dmlPath("UPDATE"), t.dmlPartitionCol("UPDATE"),
          u.condition.map(columnOf).getOrElse(lit(true)),
          rawSets.map { case (k, v) => k -> columnOf(v) }.toMap)
      else {
        import org.apache.spark.sql.catalyst.expressions.{InSubquery, ScalarSubquery, SubqueryExpression}
        val pcol = t.dmlPartitionCol("UPDATE")
        val conj = u.condition.map(conjuncts).getOrElse(Seq.empty)
        val (inConj, residual) = conj.partition(_.isInstanceOf[InSubquery])
        def scalarOnly(e: Expression, where: String): Unit = e.foreach {
          case s: ScalarSubquery =>
            if (s.outerAttrs.nonEmpty) unsupported(
              s"correlated subquery in UPDATE $where ('${s.sql}') — " +
              "only uncorrelated subqueries pre-materialize")
          case s: SubqueryExpression => unsupported(
            s"unsupported subquery shape in UPDATE $where " +
            s"('${s.sql}') — supported: an uncorrelated SCALAR " +
            "subquery anywhere, and ONE uncorrelated IN-subquery as a " +
            "top-level WHERE conjunct on a plain column (NOT IN / " +
            "EXISTS keep refusing)")
          case _ => ()
        }
        rawSets.foreach { case (k, v) => scalarOnly(v, s"SET $k") }
        residual.foreach(scalarOnly(_, "WHERE"))
        val keyed: Option[(String, LogicalPlan)] = inConj match {
          case Seq() => None
          case Seq(in: InSubquery) =>
            val keyName = in.values match {
              case Seq(a: AttributeReference) => a.name
              case other => unsupported(
                s"UPDATE ... WHERE ... IN keys on " +
                s"'${other.map(_.sql).mkString(", ")}' — a single plain " +
                "column is the supported shape")
            }
            if (in.query.outerAttrs.nonEmpty) unsupported(
              "correlated IN-subquery in UPDATE WHERE — only " +
              "uncorrelated subqueries pre-materialize")
            val out = in.query.plan.output
            if (out.size != 1) unsupported(
              s"IN-subquery must select exactly one column, got ${out.size}")
            Some(keyName ->
              Distinct(Project(Seq(Alias(out.head, keyName)()), in.query.plan)))
          case _ => unsupported(
            "UPDATE supports at most ONE IN-subquery WHERE conjunct")
        }
        keyed.foreach { case (keyName, _) =>
          rawSets.foreach { case (k, _) =>
            if (k == pcol) unsupported(
              s"UPDATE cannot SET partition column '$pcol' — a row " +
              "changing partitions is a delete plus an append")
            if (k == keyName) unsupported(
              s"UPDATE cannot SET '$k', the IN-subquery key column — " +
              "re-keying the matched rows is a MERGE, not an update")
          }
        }
        val tSchema = org.apache.spark.sql.types.StructType(rel.output.map(
          a => org.apache.spark.sql.types.StructField(
            a.name, a.dataType, a.nullable)))
        GraftUpdateSubqueryCommand(t.dmlPath("UPDATE"), pcol, tSchema,
          keyed, residual, rawSets)
      }
    }

  /** Rewrite an analyzed DELETE on a graft table whose condition holds
    * SUBQUERIES; None = not ours OR no subquery (the subquery-free
    * DELETE keeps Spark's native `SupportsDelete` path →
    * [[Snapshot.deleteWhereMoR]], which the V2 filter translation
    * cannot carry subqueries into). Same pre-materialization contract
    * as [[updateCommand]]: uncorrelated scalars execute once at run
    * time; one uncorrelated `IN (subquery)` top-level conjunct lowers
    * onto the general-merge DELETE action (distributed semi-join,
    * the GDPR forget-me shape `DELETE … WHERE user_id IN (SELECT …)`);
    * correlated / EXISTS / NOT IN refuse loudly. */
  private[sql] def deleteCommand(d: DeleteFromTable): Option[LeafRunnableCommand] = {
    import org.apache.spark.sql.catalyst.expressions.{InSubquery, ScalarSubquery, SubqueryExpression}
    if (!d.condition.exists(_.isInstanceOf[SubqueryExpression])) None
    else relationOf(d.table).map { case (t, rel) =>
      val pcol = t.dmlPartitionCol("DELETE FROM")
      val conj = conjuncts(d.condition)
      val (inConj, residual) = conj.partition(_.isInstanceOf[InSubquery])
      def scalarOnly(e: Expression): Unit = e.foreach {
        case s: ScalarSubquery =>
          if (s.outerAttrs.nonEmpty) unsupported(
            s"correlated subquery in DELETE WHERE ('${s.sql}') — " +
            "only uncorrelated subqueries pre-materialize")
        case s: SubqueryExpression => unsupported(
          s"unsupported subquery shape in DELETE WHERE ('${s.sql}') — " +
          "supported: an uncorrelated SCALAR subquery anywhere, and " +
          "ONE uncorrelated IN-subquery as a top-level conjunct on a " +
          "plain column (NOT IN / EXISTS keep refusing)")
        case _ => ()
      }
      residual.foreach(scalarOnly)
      val keyed: Option[(String, LogicalPlan)] = inConj match {
        case Seq() => None
        case Seq(in: InSubquery) =>
          val keyName = in.values match {
            case Seq(a: AttributeReference) => a.name
            case other => unsupported(
              s"DELETE ... WHERE ... IN keys on " +
              s"'${other.map(_.sql).mkString(", ")}' — a single plain " +
              "column is the supported shape")
          }
          if (in.query.outerAttrs.nonEmpty) unsupported(
            "correlated IN-subquery in DELETE WHERE — only " +
            "uncorrelated subqueries pre-materialize")
          val out = in.query.plan.output
          if (out.size != 1) unsupported(
            s"IN-subquery must select exactly one column, got ${out.size}")
          Some(keyName ->
            Distinct(Project(Seq(Alias(out.head, keyName)()), in.query.plan)))
        case _ => unsupported(
          "DELETE supports at most ONE IN-subquery WHERE conjunct")
      }
      val tSchema = org.apache.spark.sql.types.StructType(rel.output.map(
        a => org.apache.spark.sql.types.StructField(
          a.name, a.dataType, a.nullable)))
      GraftDeleteSubqueryCommand(t.dmlPath("DELETE FROM"), pcol, tSchema,
        keyed, residual)
    }
  }

  /** Rewrite an analyzed MERGE on a graft table; None = not ours.
    *
    * Two lowerings, picked by shape:
    *
    *  - the EXACT UPSERT (`WHEN MATCHED THEN UPDATE SET * WHEN NOT
    *    MATCHED THEN INSERT *`, no clause conditions, identical
    *    complete images of plain source columns) keeps its blind
    *    replace-or-insert path ([[GraftMergeCommand]]) — it never
    *    reads the matched rows' images, the cheapest possible shape;
    *  - everything else (clause conditions, `WHEN MATCHED THEN
    *    DELETE`, partial/expression images, diverging update vs
    *    insert images, insert-only merges) lowers through
    *    [[GraftMergeIntoCommand]], which reads ONLY the index-located
    *    candidate rows, evaluates the clause chain per matched pair
    *    (first matching clause wins, SQL MERGE semantics), and commits
    *    the new images + deleted keys ATOMICALLY via
    *    [[Snapshot.mergeAnywhere]]'s update/delete-key seam.
    *
    * Still refused, loudly: `WHEN NOT MATCHED BY SOURCE` (conditions
    * on ABSENCE from the source — needs a full table scan, O(table)),
    * rekeying an ON column inside UPDATE (a rekey is a delete plus an
    * insert), inserts that leave the partition column or an ON key
    * unassigned, and subqueries in any merge expression. */
  private[sql] def mergeCommand(m: MergeIntoTable): Option[LeafRunnableCommand] =
    relationOf(m.targetTable).map { case (t, rel) =>
      if (m.notMatchedBySourceActions.nonEmpty) unsupported(
        "MERGE on graft tables does not support WHEN NOT MATCHED BY " +
        "SOURCE — it conditions on ABSENCE from the source, which needs " +
        "a full table scan (O(table)); run the equivalent DELETE/UPDATE " +
        "with an anti-join-shaped predicate instead")
      val tOut = rel.outputSet
      val sOut = m.sourceTable.outputSet
      val keyCols = conjuncts(m.mergeCondition).map {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if (tOut.contains(a) && sOut.contains(b)) ||
               (tOut.contains(b) && sOut.contains(a)) =>
          val (ta, sa) = if (tOut.contains(a)) (a, b) else (b, a)
          if (ta.name != sa.name) unsupported(
            s"MERGE ON pairs differently-named columns (${ta.name} = " +
            s"${sa.name}) — the library merge keys on shared names")
          ta.name
        case other => unsupported(
          s"MERGE ON must be a conjunction of t.k = s.k equalities, " +
          s"got '${other.sql}'")
      }
      val tCols = rel.output.map(_.name)
      val sNames = m.sourceTable.output.map(_.name).toSet
      def starMissing(clause: String): Unit = {
        val missing = tCols.filterNot(sNames)
        if (missing.nonEmpty) unsupported(
          s"MERGE $clause * needs the source to carry every table " +
          s"column — missing ${missing.mkString(", ")}")
      }

      // ---- fast path: the exact upsert (None = shape doesn't fit) --
      def plainImage(assigns: Seq[Assignment]): Option[Map[String, String]] = {
        val pairs = assigns.map { a =>
          (strip(a.key), strip(a.value)) match {
            case (k: AttributeReference, v: AttributeReference)
                if sOut.contains(v) => Some(k.name -> v.name)
            case _ => None
          }
        }
        if (pairs.forall(_.isDefined)) Some(pairs.flatten.toMap) else None
      }
      def starImage: Option[Map[String, String]] = {
        starMissing("SET/INSERT"); Some(tCols.map(c => c -> c).toMap)
      }
      val fast: Option[GraftMergeCommand] =
        (m.matchedActions, m.notMatchedActions) match {
          case (Seq(mu), Seq(ni)) =>
            val updImg = mu match {
              case UpdateAction(None, assigns, _) => plainImage(assigns)
              case UpdateStarAction(None) => starImage
              case _ => None
            }
            val insImg = ni match {
              case InsertAction(None, assigns) => plainImage(assigns)
              case InsertStarAction(None) => starImage
              case _ => None
            }
            for {
              u <- updImg; i <- insImg
              if u == i && tCols.forall(u.contains)
            } yield GraftMergeCommand(t.dmlPath("MERGE"),
              t.dmlPartitionCol("MERGE"), m.sourceTable, u, keyCols)
          case _ => None
        }

      fast.getOrElse {
        // ---- general lowering -----------------------------------------
        val pcol = t.dmlPartitionCol("MERGE")
        def prefixed(e: Expression): Column =
          GraftShim.column(unresolvePrefixed(e, tOut, sOut))
        def assignKey(a: Assignment, clause: String): String =
          strip(a.key) match {
            case ar: AttributeReference => ar.name
            case other => unsupported(
              s"MERGE $clause assigns top-level columns only, got " +
              s"'${other.sql}'")
          }
        def updateSet(assigns: Seq[Assignment]): Map[String, Column] =
          assigns.flatMap { a =>
            val k = assignKey(a, "UPDATE")
            strip(a.value) match {
              // aligned identity (t.k = t.k) — not an update
              case v: AttributeReference
                  if tOut.contains(v) && v.name == k => None
              case v =>
                if (keyCols.contains(k)) v match {
                  // t.k = s.k is identity under the ON equality
                  case ar: AttributeReference if ar.name == k => ()
                  case other => unsupported(
                    s"MERGE UPDATE rekeys ON column '$k' (= " +
                    s"'${other.sql}') — a rekey is a DELETE plus an " +
                    "INSERT, not an update in place")
                }
                Some(k -> prefixed(a.value))
            }
          }.toMap
        def starUpdateSet: Map[String, Column] = {
          starMissing("UPDATE SET")
          tCols.map(c => c ->
            GraftShim.column(UnresolvedAttribute.quoted(
              GraftMergeIntoCommand.SP + c))).toMap
        }
        def insertSet(assigns: Seq[Assignment]): Map[String, Column] =
          assigns.map { a =>
            val k = assignKey(a, "INSERT")
            k -> prefixed(a.value)
          }.toMap
        def starInsertSet: Map[String, Column] = {
          starMissing("INSERT")
          tCols.map(c => c ->
            GraftShim.column(UnresolvedAttribute.quoted(
              GraftMergeIntoCommand.SP + c))).toMap
        }
        val matched: Seq[(Option[Column], Option[Map[String, Column]])] =
          m.matchedActions.map {
            case UpdateAction(c, assigns, _) =>
              (c.map(prefixed), Some(updateSet(assigns)))
            case UpdateStarAction(c) => (c.map(prefixed), Some(starUpdateSet))
            case DeleteAction(c) => (c.map(prefixed), None)
            case other => unsupported(
              s"unsupported MERGE matched action '$other'")
          }
        val notMatched: Seq[(Option[Column], Map[String, Column])] =
          m.notMatchedActions.map {
            case InsertAction(c, assigns) =>
              (c.map(prefixed), insertSet(assigns))
            case InsertStarAction(c) => (c.map(prefixed), starInsertSet)
            case other => unsupported(
              s"unsupported MERGE not-matched action '$other'")
          }
        notMatched.foreach { case (_, set) =>
          val need = (pcol +: keyCols).distinct.filterNot(set.contains)
          if (need.nonEmpty) unsupported(
            s"MERGE INSERT must assign the partition column and every " +
            s"ON key column — missing ${need.mkString(", ")} (unassigned " +
            "OTHER columns insert as NULL)")
        }
        val tSchema = org.apache.spark.sql.types.StructType(rel.output.map(
          a => org.apache.spark.sql.types.StructField(
            a.name, a.dataType, a.nullable)))
        GraftMergeIntoCommand(t.dmlPath("MERGE"), pcol, m.sourceTable,
          keyCols, tSchema, matched, notMatched)
      }
    }
}

/** UPDATE executed through [[Snapshot.updateWhere]] — one atomic
  * commit: a deletion vector hides the matched rows' old images, their
  * re-imaged rows land as fresh files. An all-identity statement
  * (`SET a = a` — every assignment filtered by the alignment check)
  * is a legal SQL no-op: nothing to set, nothing committed. */
case class GraftUpdateCommand(path: String, pcol: String, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (set.nonEmpty)
      Snapshot.updateWhere(session, path, pcol, cond, set): Unit
    Seq.empty
  }
}

/** MERGE executed through [[Snapshot.mergeAnywhere]]: update keys
  * located via the secondary key index (kept as a sibling layout of
  * the table, refreshed inside the merge), O(touched partitions). */
case class GraftMergeCommand(path: String, pcol: String,
    source: LogicalPlan, image: Map[String, String], keyCols: Seq[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val img = GraftShim.ofRows(session, source)
      .select(image.toSeq.sortBy(_._1)
        .map { case (tc, sc) => col(sc).as(tc) }: _*)
    Snapshot.mergeAnywhere(session, path, pcol, img, keyCols,
      idxPath = s"${path}_dml_idx_${keyCols.mkString("_")}"): Unit
    Seq.empty
  }
}

/** UPDATE whose SET/WHERE carried SUBQUERIES, executed by
  * PRE-MATERIALIZATION at run time:
  *
  *  - every uncorrelated SCALAR subquery runs once on the driver (its
  *    plan is already resolved — one collect of one row) and splices
  *    back as a literal;
  *  - a `WHERE k IN (subquery)` conjunct lowers onto
  *    [[GraftMergeIntoCommand]]: the subquery's DISTINCT result is the
  *    merge source keyed on `k`, the residual WHERE conjuncts become
  *    the matched clause's condition, and the SET pairs its partial
  *    update image — a distributed semi-join through the key index,
  *    never a collected value list (the IN set may be data-sized).
  *
  * Duplicate target keys are legal here (every row of a matched key
  * updates — IN semantics), which is why the merge cardinality rule
  * counts SOURCE duplicates, and the source is made DISTINCT. */
case class GraftUpdateSubqueryCommand(path: String, pcol: String,
    tSchema: org.apache.spark.sql.types.StructType,
    keyed: Option[(String, LogicalPlan)],
    residual: Seq[Expression],
    sets: Seq[(String, Expression)]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    if (sets.isEmpty) return Seq.empty // all-identity SET: legal no-op
    def mat(e: Expression): Expression = e.transform {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        val rows = GraftShim.ofRows(session, s.plan).limit(2).collect()
        if (rows.length > 1) throw new IllegalStateException(
          s"scalar subquery in UPDATE returned more than one row: ${s.sql}")
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          if (rows.isEmpty) null else rows.head.get(0), s.dataType)
    }
    val sets2 = sets.map { case (k, v) => k -> mat(v) }
    val resid2 = residual.map(mat)
    keyed match {
      case None =>
        def bare(e: Expression): Column = GraftShim.column(e.transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
        val cond = resid2.map(bare).reduceOption(_ && _).getOrElse(lit(true))
        Snapshot.updateWhere(session, path, pcol, cond,
          sets2.map { case (k, v) => k -> bare(v) }.toMap): Unit
      case Some((keyName, values)) =>
        def pref(e: Expression): Column = GraftShim.column(e.transform {
          case a: AttributeReference =>
            UnresolvedAttribute.quoted(GraftMergeIntoCommand.TP + a.name)
        })
        val cond = resid2.map(pref).reduceOption(_ && _)
        GraftMergeIntoCommand(path, pcol, values, Seq(keyName), tSchema,
          matched = Seq((cond,
            Some(sets2.map { case (k, v) => k -> pref(v) }.toMap))),
          notMatched = Nil).run(session): Unit
    }
    Seq.empty
  }
}

/** DELETE whose WHERE carried SUBQUERIES — [[GraftUpdateSubqueryCommand]]'s
  * contract without images: scalars pre-materialize, then either a
  * plain [[Snapshot.deleteWhereMoR]] (vector-only commit, O(matched))
  * or, with an IN-subquery, the general-merge DELETE action (the
  * subquery's distinct result is the source, the residual the clause
  * condition, unacted duplicate-key twins survive as identity
  * re-images). */
case class GraftDeleteSubqueryCommand(path: String, pcol: String,
    tSchema: org.apache.spark.sql.types.StructType,
    keyed: Option[(String, LogicalPlan)],
    residual: Seq[Expression]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    def mat(e: Expression): Expression = e.transform {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        val rows = GraftShim.ofRows(session, s.plan).limit(2).collect()
        if (rows.length > 1) throw new IllegalStateException(
          s"scalar subquery in DELETE returned more than one row: ${s.sql}")
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          if (rows.isEmpty) null else rows.head.get(0), s.dataType)
    }
    val resid2 = residual.map(mat)
    keyed match {
      case None =>
        def bare(e: Expression): Column = GraftShim.column(e.transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
        val cond = resid2.map(bare).reduceOption(_ && _).getOrElse(lit(true))
        Snapshot.deleteWhereMoR(session, path, pcol, cond): Unit
      case Some((keyName, values)) =>
        def pref(e: Expression): Column = GraftShim.column(e.transform {
          case a: AttributeReference =>
            UnresolvedAttribute.quoted(GraftMergeIntoCommand.TP + a.name)
        })
        val cond = resid2.map(pref).reduceOption(_ && _)
        GraftMergeIntoCommand(path, pcol, values, Seq(keyName), tSchema,
          matched = Seq((cond, None)), notMatched = Nil).run(session): Unit
    }
    Seq.empty
  }
}

object GraftMergeIntoCommand {
  /** Column prefixes for the two sides of the matched-pair frame. The
    * prefixes differ before any user-controlled text, so no target
    * name can collide with a prefixed source name (or vice versa). */
  private[sql] val TP = "_graft_t_"
  private[sql] val SP = "_graft_s_"
}

/** GENERAL MERGE (clause conditions, WHEN MATCHED DELETE, partial or
  * expression images, insert-only) lowered onto the snapshot store's
  * one cross-partition merge primitive:
  *
  *  1. candidate target rows = the files that can hold a source key,
  *     located through the secondary key index (never a table scan);
  *  2. matched pairs = candidates ⋈ source on the ON keys, both sides
  *     PREFIXED (`_graft_t_*` / `_graft_s_*`) so same-named columns
  *     stay addressable from clause conditions and assignment values;
  *  3. per pair, the FIRST matched clause whose condition holds wins
  *     (SQL MERGE clause order); its UPDATE builds a full-row image —
  *     unassigned columns keep the target's value — or its DELETE
  *     contributes the pair's key; pairs matching no clause stay
  *     untouched. More than one source row acting on one target row
  *     refuses (the Delta cardinality rule) before anything commits;
  *  4. unmatched source rows walk the NOT MATCHED chain the same way;
  *     an insert image fills unassigned columns with NULL;
  *  5. images + deleted keys commit as ONE atomic
  *     [[Snapshot.mergeAnywhere]] (its `deleteKeys` seam) —
  *     O(touched partitions), same as the upsert fast path.
  *
  * At 100 TB: the source is read twice (matched join + unmatched
  * anti-join) and the table contributes only index-located candidate
  * files; the matched-pair frame persists across the clause
  * evaluations so the join runs once.
  *
  * LINEAGE tables (`rowids=on`): matched update images and identity
  * re-images CARRY the target row's `_row_id` (read via the lineage
  * file-subset scan), so a SQL UPDATE/MERGE-update keeps the row's
  * durable identity exactly like [[Snapshot.updateWhere]] — typed
  * change-feed consumers keep pairing pre/post by id. Inserted rows
  * take fresh ids at commit (NULL image), the library rule. */
case class GraftMergeIntoCommand(path: String, pcol: String,
    source: LogicalPlan, keyCols: Seq[String],
    tSchema: org.apache.spark.sql.types.StructType,
    matched: Seq[(Option[Column], Option[Map[String, Column]])],
    notMatched: Seq[(Option[Column], Map[String, Column])])
    extends LeafRunnableCommand {
  import GraftMergeIntoCommand.{SP, TP}

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{first, max, monotonically_increasing_id, when}
    val idxPath = s"${path}_dml_idx_${keyCols.mkString("_")}"
    val v = graft.sources.Snapshot.currentVersion(session, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $path"))
    // The source plan is consumed up to four times (key-distinct for
    // the index probe, the matched join, the not-matched anti-join, the
    // empty-updates guard) — persist it once so an expensive MERGE
    // source (itself a query) executes once, not per consumer.
    // Unpersisted in the finally below.
    val src = GraftShim.ofRows(session, source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    if (src.isEmpty) return Seq.empty // a legal no-op
    val sPref = src.columns.toSeq.foldLeft(src)((d, c) =>
      d.withColumnRenamed(c, SP + c))

    val lineage = Snapshot.metaOf(session, path, v)
      .get("rowids").contains("on")
    val RowId = "_row_id"
    // image columns = recorded schema (+ the id on lineage tables, so
    // updated rows KEEP their identity through the key-grain replace)
    val outSchema =
      if (lineage) tSchema.add(RowId,
        org.apache.spark.sql.types.LongType, nullable = true)
      else tSchema
    val readCols = outSchema.fieldNames.toSeq

    // candidate target rows: only files that can hold a source key
    graft.sources.KeyIndex.refresh(session, path, keyCols, idxPath, 32): Unit
    val candFiles = graft.sources.KeyIndex.filesForKeys(session, idxPath,
      src.select(keyCols.map(col): _*).distinct())
    val target =
      if (candFiles.isEmpty)
        session.createDataFrame(
          session.sparkContext.emptyRDD[Row], outSchema)
      else (if (lineage)
        Snapshot.readVersionLineage(session, path, v, Some(candFiles))
      else Snapshot.readVersionFiles(session, path, v, candFiles))
        .select(readCols.map(col): _*)
    // a synthetic per-target-row id: cardinality and identity-re-image
    // decisions are per ROW (SQL MERGE semantics), and neither the key
    // (may be duplicated) nor the column tuple (rows may be identical
    // twins) identifies one.
    // tid determinism: monotonically_increasing_id is
    // positional per scan partition, and the candidate-file scan's
    // partitioning and row order are deterministic (explicit file list,
    // fixed split packing), so a cache-evicted recompute of pairsAll
    // reassigns the SAME tids. This holds exactly as long as the
    // withColumn stays directly above the scan — moving it above a
    // shuffle would make tids depend on reduce-side fetch order.
    val tid = "_graft_tid"
    val tPref = target.select(readCols.map(c => col(c).as(TP + c)): _*)
      .withColumn(tid, monotonically_increasing_id())
    val joinCond = keyCols.map(k => col(TP + k) === col(SP + k))
      .reduce(_ && _)

    val act = "_graft_action"
    def chain(conds: Seq[Option[Column]]): Column =
      conds.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (cond, i)) =>
          val c = cond.getOrElse(lit(true))
          Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
      }.map(_.otherwise(lit(-1))).getOrElse(lit(-1))

    val pairsAll = tPref.join(sPref, joinCond, "inner")
      .withColumn(act, chain(matched.map(_._1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = pairsAll.where(col(act) >= 0)
    try {
      if (matched.nonEmpty) {
        // the Delta cardinality rule, at ROW grain: >1 source rows
        // ACTING on the same target row is ambiguous — a duplicated
        // source key whose other rows act on nothing is legal (the CDC
        // is_latest shape), as is a duplicated TARGET key (every row
        // of the key acts once, the q97 IN-update shape)
        val dup = pairs.groupBy(col(tid)).count()
          .where(col("count") > 1).limit(1).count()
        if (dup > 0) throw new UnsupportedOperationException(
          "MERGE cardinality violation: more than one source row " +
          "matched and acted on the same target row — dedup the source " +
          "on the ON keys first")
      }
      val updIdx = matched.zipWithIndex.collect { case ((_, Some(_)), i) => i }
      val delIdx = matched.zipWithIndex.collect { case ((_, None), i) => i }
      // update-image value for column f: the acting clause's expression
      // (the action index already encodes first-match), cast to the
      // recorded type; unassigned columns — and the id — keep the
      // target's value
      def updValue(f: org.apache.spark.sql.types.StructField): Column =
        updIdx.foldLeft(Option.empty[Column]) { (acc, i) =>
          val value = matched(i)._2.get.getOrElse(f.name, col(TP + f.name))
          Some(acc.fold(when(col(act) === i, value))(
            _.when(col(act) === i, value)))
        }.get.cast(f.dataType).as(f.name)
      val updRows: Option[DataFrame] =
        if (updIdx.isEmpty) None
        else Some(pairs.where(col(act).isin(updIdx: _*))
          .select(outSchema.fields.toSeq.map { f =>
            if (f.name == RowId && lineage)
              col(TP + RowId).cast(f.dataType).as(f.name)
            else updValue(f)
          }: _*))
      val delKeys: Option[DataFrame] =
        if (delIdx.isEmpty) None
        else Some(pairs.where(col(act).isin(delIdx: _*))
          .select(keyCols.map(k => col(TP + k).as(k)): _*))

      // DUPLICATE TARGET KEYS: the commit replaces rows at KEY grain
      // (anti-join + re-add), so a row with NO acting pair that shares
      // a key with an acting pair would silently vanish. Those rows
      // re-image as IDENTITY — one image per row, via the per-row
      // max(action) over the synthetic tid (a row acted on by one pair
      // and missed by another is NOT an identity row).
      val identityExtras: Option[DataFrame] =
        if (matched.isEmpty) None
        else {
          val actedKeys = pairs
            .select(keyCols.map(k => col(TP + k).as(k)): _*).distinct()
          val perRow = pairsAll.groupBy(col(tid)).agg(
            max(col(act)).as("_graft_maxact"),
            readCols.map(c => first(col(TP + c)).as(TP + c)): _*)
          Some(perRow.where(col("_graft_maxact") === -1)
            .join(actedKeys,
              keyCols.map(k => col(TP + k) === col(k)).reduce(_ && _),
              "left_semi")
            .select(outSchema.fields.toSeq.map(f =>
              col(TP + f.name).cast(f.dataType).as(f.name)): _*))
        }

      val insRows: Option[DataFrame] =
        if (notMatched.isEmpty) None
        else Some(sPref
          .join(tPref.select(keyCols.map(k => col(TP + k)): _*),
            joinCond, "left_anti")
          .withColumn(act, chain(notMatched.map(_._1)))
          .where(col(act) >= 0)
          .select(outSchema.fields.toSeq.map { f =>
            if (f.name == RowId && lineage)
              // inserted rows take FRESH ids at commit (the library rule)
              lit(null).cast(f.dataType).as(f.name)
            else notMatched.indices.foldLeft(Option.empty[Column]) { (acc, i) =>
              val value = notMatched(i)._2.getOrElse(f.name, lit(null))
              Some(acc.fold(when(col(act) === i, value))(
                _.when(col(act) === i, value)))
            }.get.cast(f.dataType).as(f.name)
          }: _*))

      val updates = Seq(updRows, identityExtras, insRows).flatten
        .reduceOption(_ unionByName _)
        .getOrElse(session.createDataFrame(
          session.sparkContext.emptyRDD[Row], outSchema))
      val del = delKeys.filterNot(_.isEmpty)
      // matched nothing, inserted nothing, deleted nothing: legal no-op
      if (del.nonEmpty || !updates.isEmpty)
        Snapshot.mergeAnywhere(session, path, pcol, updates, keyCols,
          idxPath, deleteKeys = del): Unit
      Seq.empty
    } finally pairsAll.unpersist()
    } finally src.unpersist()
  }
}

/** The post-hoc resolution rule: analyzed UPDATE/MERGE roots over
  * graft tables become runnable commands BEFORE the optimizer's
  * row-level rewrite rules would refuse them (graft tables do not
  * implement the V2-write-only `SupportsRowLevelOperations`). Non-graft
  * targets pass through untouched. */
object GraftDmlRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      GraftDml.updateCommand(u).getOrElse(u)
    case m: MergeIntoTable if m.resolved =>
      GraftDml.mergeCommand(m).getOrElse(m)
    // only DELETEs whose condition holds a subquery reroute — the
    // plain shape keeps Spark's native SupportsDelete path
    case d: DeleteFromTable if d.resolved =>
      GraftDml.deleteCommand(d).getOrElse(d)
    case _ => plan
  }
}

/** Register via `spark.sql.extensions =
  * graft.sources.sql.GraftSparkSessionExtension` (the engine's entry
  * points do — [[graft.sources.Tables.sessionConfigs]]). */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPostHocResolutionRule(_ => GraftDmlRule)
}
