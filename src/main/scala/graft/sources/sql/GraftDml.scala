package graft.sources.sql

import graft.sources.Snapshot
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, CommonExpressionRef, EqualTo, Expression, InSubquery, InheritAnalysisRules, Literal, RuntimeReplaceable, ScalarSubquery, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** SQL DML over the snapshot store: `DELETE FROM`
  * / `UPDATE` / `MERGE INTO` on `graft.<table>`, completing the SQL
  * surface [[GraftCatalog]] opened for SELECT / INSERT / DDL — the
  * reference's consumers speak SQL (report pp.16-18), and a store a
  * dashboard can read but not correct is half a surface.
  *
  * Each verb maps onto the library primitive that already owns its
  * semantics, so SQL and library callers share ONE implementation and
  * one set of refusals. Spark has no V1-write seam for row-level DML
  * (the `SupportsRowLevelOperations` path demands a full V2
  * BatchWrite), so a post-hoc resolution rule ([[GraftDmlRule]],
  * injected by [[GraftSparkSessionExtension]]) replaces each analyzed
  * statement on a graft table with a runnable command:
  *
  *  - `UPDATE graft.t SET … WHERE …` and `DELETE FROM graft.t WHERE …`
  *    — with or without subqueries, any predicate — lower through ONE
  *    split ([[rowLevelCommand]]) into ONE command
  *    ([[GraftRowLevelCommand]]) running [[Snapshot.updateWhere]] /
  *    [[Snapshot.deleteWhereMoR]]: one atomic commit of a deletion
  *    vector (plus the re-imaged rows for UPDATE), O(matched rows),
  *    zero data files rewritten by a DELETE. A `WHERE k IN (subquery)`
  *    conjunct lowers onto the general-merge machinery instead.
  *  - `MERGE INTO graft.t USING src ON t.k = s.k …` — every clause
  *    shape, the exact upsert included — lowers through ONE command
  *    ([[GraftMergeIntoCommand]], [[mergeCommand]] scaladoc): the
  *    files that can hold a source key are found from the manifest's
  *    per-file key bounds, and the ones holding a row some clause acts
  *    on are rewritten in one copy-on-write commit
  *    ([[Snapshot.rewriteKeyed]]), O(candidate files).
  *
  * Resolved-to-unresolved seam: the analyzed assignments and
  * conditions carry `AttributeReference`s bound to the DML statement's
  * own relation instance; the library primitives re-read the table
  * themselves, so every attribute is rewritten to its name
  * ([[GraftDml.unresolve]]) and re-resolves against the primitive's
  * scan — name-stable because both sides read the same recorded
  * schema. At 100 TB nothing here adds data IO: the rewrite is
  * plan-time, and each primitive keeps its own documented cost shape. */
object GraftDml {

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(what)

  /** Resolved attributes → the names the executing primitive
    * re-resolves against its own scan of the table: bare names for the
    * library primitives, `_graft_t_`/`_graft_s_`-prefixed ones for the
    * general-merge frame ([[GraftMergeIntoCommand]]).
    * Subqueries refuse LOUDLY first: their inner plans carry resolved
    * attributes of OTHER relations that the re-resolution seam cannot
    * carry across — letting one through could re-bind a name to the
    * wrong relation silently, the exact class of bug a loud boundary
    * exists to prevent. (UPDATE and DELETE pre-materialize their
    * subqueries before reaching this seam — [[GraftRowLevelCommand]];
    * this backstop fires only for MERGE expressions.) */
  private[sql] def unresolve(e: Expression,
      name: AttributeReference => String): Column = {
    e.foreach {
      case s: SubqueryExpression =>
        unsupported(
          s"subqueries are not supported in graft MERGE expressions " +
          s"(got '${s.sql}') — pre-compute the value into the USING " +
          "source (UPDATE and DELETE pre-materialize scalar and IN " +
          "subqueries automatically)")
      case _ => ()
    }
    GraftShim.column(inlineReplacements(e).transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(name(a))
    })
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

  /** The target's columns as the commands' image schema. */
  private def tableSchema(rel: DataSourceV2Relation): StructType =
    StructType(rel.output.map(a => StructField(a.name, a.dataType, a.nullable)))

  /** Rewrite an analyzed UPDATE (`assignments = Some(…)`) or DELETE
    * (`None`) on a graft table; None = not ours. `verb` names the
    * statement in every refusal.
    *
    * UPDATE's assignment pre-pass keeps top-level columns only and
    * drops aligned identity assignments (`col = col` is not an update).
    * Subqueries PRE-MATERIALIZE instead of refusing: an UNCORRELATED
    * scalar subquery anywhere in SET/WHERE executes once at run time
    * and splices back as a literal, and ONE uncorrelated
    * `IN (subquery)` as a top-level WHERE conjunct on a plain column
    * lowers onto the general-merge machinery (the subquery's distinct
    * result becomes the merge source, the residual predicate the
    * clause condition) — a real distributed semi-join, never a
    * collected value list; the GDPR forget-me shape
    * `DELETE … WHERE user_id IN (SELECT …)` is one such statement.
    * Correlated subqueries, EXISTS, NOT IN, and multiple IN conjuncts
    * refuse loudly, as does SETting the partition column (a row
    * changing partitions is a delete plus an append). */
  private[sql] def rowLevelCommand(verb: String, table: LogicalPlan,
      condition: Option[Expression], assignments: Option[Seq[Assignment]])
      : Option[GraftRowLevelCommand] =
    relationOf(table).map { case (t, rel) =>
      val path = t.dmlPath(verb)
      val pcol = t.dmlPartitionCol(verb)
      val set = assignments.map(_.flatMap { a =>
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
      })
      val (inConj, residual) = condition.toSeq.flatMap(conjuncts)
        .partition(_.isInstanceOf[InSubquery])
      def scalarOnly(e: Expression, where: String): Unit = e.foreach {
        case s: ScalarSubquery =>
          if (s.outerAttrs.nonEmpty) unsupported(
            s"correlated subquery in $verb $where ('${s.sql}') — " +
            "only uncorrelated subqueries pre-materialize")
        case s: SubqueryExpression => unsupported(
          s"unsupported subquery shape in $verb $where ('${s.sql}') — " +
          "supported: an uncorrelated SCALAR subquery anywhere, and ONE " +
          "uncorrelated IN-subquery as a top-level WHERE conjunct on a " +
          "plain column (NOT IN / EXISTS keep refusing)")
        case _ => ()
      }
      residual.foreach(scalarOnly(_, "WHERE"))
      val keyed: Option[(String, LogicalPlan)] = inConj match {
        case Seq() => None
        case Seq(in: InSubquery) =>
          val keyName = in.values match {
            case Seq(a: AttributeReference) => a.name
            case other => unsupported(
              s"$verb ... WHERE ... IN keys on " +
              s"'${other.map(_.sql).mkString(", ")}' — a single plain " +
              "column is the supported shape")
          }
          if (in.query.outerAttrs.nonEmpty) unsupported(
            s"correlated IN-subquery in $verb WHERE — only " +
            "uncorrelated subqueries pre-materialize")
          val out = in.query.plan.output
          if (out.size != 1) unsupported(
            s"IN-subquery must select exactly one column, got ${out.size}")
          Some(keyName ->
            Distinct(Project(Seq(Alias(out.head, keyName)()), in.query.plan)))
        case _ => unsupported(
          s"$verb supports at most ONE IN-subquery WHERE conjunct")
      }
      set.toSeq.flatten.foreach { case (k, v) =>
        scalarOnly(v, s"SET $k")
        if (k == pcol) unsupported(
          s"UPDATE cannot SET partition column '$pcol' — a row " +
          "changing partitions is a delete plus an append")
        if (keyed.exists(_._1 == k)) unsupported(
          s"UPDATE cannot SET '$k', the IN-subquery key column — " +
          "re-keying the matched rows is a MERGE, not an update")
      }
      GraftRowLevelCommand(path, pcol, tableSchema(rel), keyed, residual, set)
    }

  /** Rewrite an analyzed MERGE on a graft table; None = not ours.
    *
    * Every clause shape — the exact upsert (`WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *`), clause conditions, `WHEN
    * MATCHED THEN DELETE`, partial/expression images, diverging update
    * vs insert images, insert-only merges — lowers into ONE command,
    * [[GraftMergeIntoCommand]], so one statement has one semantics:
    * first matching clause wins per matched pair (SQL MERGE order),
    * the cardinality rule holds at row grain, and a matched row keeps
    * its durable id on a lineage table.
    *
    * Still refused, loudly: `WHEN NOT MATCHED BY SOURCE` (conditions
    * on ABSENCE from the source — needs a full table scan, O(table)),
    * rekeying an ON column inside UPDATE (a rekey is a delete plus an
    * insert), inserts that leave the partition column or an ON key
    * unassigned, and subqueries in any merge expression. */
  private[sql] def mergeCommand(m: MergeIntoTable): Option[GraftMergeIntoCommand] =
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
      val pcol = t.dmlPartitionCol("MERGE")
      def prefixed(e: Expression): Column = unresolve(e, {
        case a if tOut.contains(a) => GraftMergeIntoCommand.TP + a.name
        case a if sOut.contains(a) => GraftMergeIntoCommand.SP + a.name
        case a => unsupported(
          s"MERGE expression references '${a.name}', which is neither a " +
          "target nor a source column")
      })
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
      def insertSet(assigns: Seq[Assignment]): Map[String, Column] =
        assigns.map(a => assignKey(a, "INSERT") -> prefixed(a.value)).toMap
      // `SET *` / `INSERT *`: every table column from the same-named
      // source column
      def star(clause: String): Map[String, Column] = {
        val missing = tCols.filterNot(sNames)
        if (missing.nonEmpty) unsupported(
          s"MERGE $clause * needs the source to carry every table " +
          s"column — missing ${missing.mkString(", ")}")
        tCols.map(c => c -> GraftShim.column(UnresolvedAttribute.quoted(
          GraftMergeIntoCommand.SP + c))).toMap
      }
      val matched: Seq[(Option[Column], Option[Map[String, Column]])] =
        m.matchedActions.map {
          case UpdateAction(c, assigns, _) =>
            (c.map(prefixed), Some(updateSet(assigns)))
          case UpdateStarAction(c) => (c.map(prefixed), Some(star("UPDATE SET")))
          case DeleteAction(c) => (c.map(prefixed), None)
          case other => unsupported(
            s"unsupported MERGE matched action '$other'")
        }
      val notMatched: Seq[(Option[Column], Map[String, Column])] =
        m.notMatchedActions.map {
          case InsertAction(c, assigns) => (c.map(prefixed), insertSet(assigns))
          case InsertStarAction(c) => (c.map(prefixed), star("INSERT"))
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
      GraftMergeIntoCommand(t.dmlPath("MERGE"), pcol, m.sourceTable,
        keyCols, tableSchema(rel), matched, notMatched)
    }
}

/** UPDATE (`set = Some(image)`) or DELETE (`set = None`) on a graft
  * table — the one command both verbs lower into ([[GraftDml]]
  * `rowLevelCommand`), with or without subqueries:
  *
  *  - every uncorrelated SCALAR subquery runs once on the driver (its
  *    plan is already resolved — one collect of one row) and splices
  *    back as a literal;
  *  - without an IN key: [[Snapshot.updateWhere]] (one atomic vector +
  *    re-image commit) or [[Snapshot.deleteWhereMoR]] (a vector-only
  *    commit), both O(matched rows);
  *  - with a `WHERE k IN (subquery)` key: [[GraftMergeIntoCommand]] —
  *    the subquery's DISTINCT result is the merge source keyed on `k`,
  *    the residual WHERE conjuncts become the matched clause's
  *    condition, and the SET its partial update image (or, for DELETE,
  *    the clause's delete action). Its values collect once to plan the
  *    candidate files (the point-lookup contract); the match itself is
  *    a distributed join, never an IN list built from them. Duplicate
  *    target keys are legal here (every row of a matched key acts — IN
  *    semantics; an unacted twin is written back unchanged), which is
  *    why the merge cardinality rule counts SOURCE rows per target row,
  *    and the source is made DISTINCT.
  *
  * An all-identity UPDATE (`SET a = a` — every assignment filtered by
  * the alignment check) is a legal SQL no-op: nothing committed. */
case class GraftRowLevelCommand(path: String, pcol: String,
    tSchema: StructType,
    keyed: Option[(String, LogicalPlan)],
    residual: Seq[Expression],
    set: Option[Seq[(String, Expression)]]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    if (set.exists(_.isEmpty)) return Seq.empty // all-identity SET: legal no-op
    val verb = if (set.isEmpty) "DELETE" else "UPDATE"
    def mat(e: Expression): Expression = e.transform {
      case s: ScalarSubquery =>
        val rows = GraftShim.ofRows(session, s.plan).limit(2).collect()
        if (rows.length > 1) throw new IllegalStateException(
          s"scalar subquery in $verb returned more than one row: ${s.sql}")
        Literal.create(if (rows.isEmpty) null else rows.head.get(0), s.dataType)
    }
    val name: AttributeReference => String =
      if (keyed.isEmpty) _.name else GraftMergeIntoCommand.TP + _.name
    def column(e: Expression): Column = GraftDml.unresolve(mat(e), name)
    val cond = residual.map(column).reduceOption(_ && _)
    val image = set.map(_.map { case (k, v) => k -> column(v) }.toMap)
    (keyed, image) match {
      case (None, Some(img)) =>
        Snapshot.updateWhere(session, path, pcol,
          cond.getOrElse(lit(true)), img): Unit
      case (None, None) =>
        Snapshot.deleteWhereMoR(session, path, pcol,
          cond.getOrElse(lit(true))): Unit
      case (Some((keyName, values)), _) =>
        GraftMergeIntoCommand(path, pcol, values, Seq(keyName), tSchema,
          matched = Seq((cond, image)), notMatched = Nil).run(session): Unit
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

/** SQL MERGE on a graft table — every clause shape ([[GraftDml]]
  * `mergeCommand`) and the `WHERE k IN (subquery)` UPDATE/DELETE
  * ([[GraftRowLevelCommand]]) — as ONE file-grain copy-on-write commit
  * ([[Snapshot.rewriteKeyed]]):
  *
  *  1. candidate target rows = the files that can hold a source key:
  *     the source's ON-key values collect once (none: a no-op), and a
  *     file drops when its manifest bounds on an integral ON key hold
  *     none of them (a table without stats on the key keeps every
  *     file); the candidates read as one keyed scan, each row carrying
  *     its `(__dv_file, __dv_pos)` identity;
  *  2. matched pairs = candidates ⋈ source on the ON keys, both sides
  *     PREFIXED (`_graft_t_*` / `_graft_s_*`) so same-named columns
  *     stay addressable from clause conditions and assignment values;
  *  3. per pair, the FIRST matched clause whose condition holds acts
  *     (SQL MERGE clause order). More than one source row acting on one
  *     target row refuses (the Delta cardinality rule, at ROW grain)
  *     before anything commits; a duplicated source key whose other
  *     rows act on nothing is legal, and so is a duplicated TARGET key —
  *     every row of it is its own target row;
  *  4. the touched files are those holding an acting row (the files of
  *     the identities the rule check collects); each of their rows is
  *     rewritten as its acting pair's UPDATE image (unassigned columns
  *     keep the target's value), dropped by a DELETE, or written back
  *     unchanged. Unmatched source rows — matched against EVERY
  *     candidate, so a key in an untouched file is never inserted
  *     twice — walk the NOT MATCHED chain the same way (unassigned
  *     columns insert NULL);
  *  5. the touched files' new contents plus the inserts commit as one
  *     version replacing exactly the touched files; every other file
  *     keeps its entry. A merge where no pair acts touches no file
  *     (inserts only), and one that also inserts nothing commits
  *     nothing.
  *
  * At 100 TB: the source is read for the key collect, the matched join
  * and the not-matched anti-join (persisted once), and the table
  * contributes only the candidate files its bounds cannot rule out.
  *
  * LINEAGE tables (`rowids=on`): update images and unchanged rows CARRY
  * the target row's `_row_id`, so a SQL UPDATE/MERGE keeps the row's
  * durable identity exactly like [[Snapshot.updateWhere]] — typed
  * change-feed consumers keep pairing pre/post by id. Inserted rows
  * take fresh ids at commit (NULL image), the library rule. */
case class GraftMergeIntoCommand(path: String, pcol: String,
    source: LogicalPlan, keyCols: Seq[String],
    tSchema: StructType,
    matched: Seq[(Option[Column], Option[Map[String, Column]])],
    notMatched: Seq[(Option[Column], Map[String, Column])])
    extends LeafRunnableCommand {
  import GraftMergeIntoCommand.{SP, TP}

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, when}
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the source feeds the key collect, the matched join and the
    // not-matched anti-join: an expensive source (itself a query)
    // executes once
    val src = GraftShim.ofRows(session, source).persist(disk)
    var pairs: Option[DataFrame] = None
    try {
      val sPref = src.select(src.columns.toSeq.map(c => col(c).as(SP + c)): _*)
      val Id = Seq("__dv_file", "__dv_pos")
      val act = "_graft_action"
      def chain(conds: Seq[Option[Column]]): Column =
        conds.zipWithIndex.foldLeft(Option.empty[Column]) {
          case (acc, (cond, i)) =>
            val c = cond.getOrElse(lit(true))
            Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
        }.map(_.otherwise(lit(-1))).getOrElse(lit(-1))
      // the image column for `f`: the value of the clause whose index
      // `act` holds, cast to the recorded type
      def image(f: StructField, clauses: Seq[(Int, Column)]): Column =
        clauses.foldLeft(Option.empty[Column]) { case (acc, (i, value)) =>
          Some(acc.fold(when(col(act) === i, value))(
            _.when(col(act) === i, value)))
        }.get.cast(f.dataType).as(f.name)

      // no source rows: a legal no-op
      Snapshot.rewriteKeyed(session, path, pcol,
          src.select(keyCols.map(col): _*)) { (cand, scan) =>
        val lineage = cand.columns.contains(Snapshot.RowIdCol)
        val out =
          if (lineage) tSchema.add(Snapshot.RowIdCol, LongType) else tSchema
        def prefixed(scanned: DataFrame): DataFrame = scanned.select(
          out.fieldNames.toSeq.map(c => col(c).as(TP + c)) ++ Id.map(col): _*)
        // every matched pair with its acting clause (-1: none), O(matched
        // source rows) — read by the rule check, the rewrite and the
        // not-matched anti-join
        val matchedPairs = prefixed(cand).join(sPref,
            keyCols.map(k => col(TP + k) === col(SP + k)).reduce(_ && _))
          .withColumn(act, chain(matched.map(_._1)))
          .persist(disk)
        pairs = Some(matchedPairs)
        val acting = matchedPairs.where(col(act) >= 0)
        // the cardinality rule: one acting source row per target row.
        // Its identities collect like the source keys; their files are
        // the ones the commit replaces.
        val acted =
          if (matched.isEmpty) Array.empty[Row]
          else acting.select(Id.map(col): _*).collect()
        if (acted.distinct.length < acted.length)
          throw new UnsupportedOperationException(
            "MERGE cardinality violation: more than one source row " +
            "matched and acted on the same target row — dedup the " +
            "source on the ON keys first")
        val touched = acted.map(_.getString(0)).toSet
        val updates = matched.zipWithIndex.collect {
          case ((_, Some(set)), i) => (i, set)
        }
        // each row of a touched file: its acting UPDATE's image, dropped
        // by a DELETE, or (act -1) written back unchanged
        val rewritten =
          if (touched.isEmpty) None
          else Some(prefixed(scan(touched.toSeq.sorted))
            .join(acting.select((Id ++ sPref.columns :+ act).map(col): _*),
              Id, "left")
            .withColumn(act, coalesce(col(act), lit(-1)))
            .where(col(act).isin(-1 +: updates.map(_._1): _*))
            .select(out.fields.toSeq.map { f =>
              if (f.name == Snapshot.RowIdCol) col(TP + f.name).as(f.name)
              else image(f, (-1 -> col(TP + f.name)) +: updates.map {
                case (i, set) => i -> set.getOrElse(f.name, col(TP + f.name))
              })
            }: _*))
        // matched over every candidate, acting or not: a key held by an
        // untouched file is never inserted again
        val matchedKeys = matchedPairs
          .select(keyCols.map(k => col(SP + k).as(s"_graft_m_$k")): _*)
        val inserts = Some(notMatched).filter(_.nonEmpty).map(_ => sPref
          .join(matchedKeys,
            keyCols.map(k => col(SP + k) === col(s"_graft_m_$k")).reduce(_ && _),
            "left_anti")
          .withColumn(act, chain(notMatched.map(_._1)))
          .where(col(act) >= 0)
          .select(out.fields.toSeq.map { f =>
            // inserted rows take FRESH ids at commit (the library rule)
            if (f.name == Snapshot.RowIdCol) lit(null).cast(LongType).as(f.name)
            else image(f, notMatched.indices.map(i =>
              i -> notMatched(i)._2.getOrElse(f.name, lit(null))))
          }: _*))
        // nothing acted: only a non-empty insert set commits
        val added = if (rewritten.isEmpty) inserts.filterNot(_.isEmpty) else inserts
        (touched, (rewritten ++ added).reduceOption(_ unionByName _))
      }: Unit
      Seq.empty
    } finally {
      pairs.foreach(_.unpersist())
      src.unpersist()
    }
  }
}

/** The post-hoc resolution rule: analyzed UPDATE/DELETE/MERGE roots
  * over graft tables become runnable commands BEFORE the optimizer's
  * row-level rewrite rules would refuse them (graft tables implement
  * neither the V2-write-only `SupportsRowLevelOperations` nor a
  * filter-based delete). Non-graft targets pass through untouched. */
object GraftDmlRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      GraftDml.rowLevelCommand("UPDATE", u.table, u.condition,
        Some(u.assignments)).getOrElse(u)
    case d: DeleteFromTable if d.resolved =>
      GraftDml.rowLevelCommand("DELETE", d.table, Some(d.condition),
        None).getOrElse(d)
    case m: MergeIntoTable if m.resolved =>
      GraftDml.mergeCommand(m).getOrElse(m)
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
