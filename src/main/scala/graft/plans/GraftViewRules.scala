package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan, RenameTable, SetViewProperties, ShowViews, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.sources.GraftCatalog

/** V2 VIEW resolution + DDL over [[GraftCatalog]]'s ViewCatalog half
  * (round 13). Vanilla Spark 4.1 parses `CREATE VIEW cat.v AS …` but its
  * session-catalog resolver refuses any non-session catalog
  * (MISSING_CATALOG_ABILITY.VIEWS) — the ViewCatalog API is a connector
  * surface that an extension is expected to drive, which is exactly how
  * Iceberg ships its view support. This rule runs in the HINTS batch
  * (injectHintResolutionRule — the one injection point that precedes the
  * resolver's refusal) and rewrites, for graft catalogs only:
  *
  *  - `CREATE [OR REPLACE] VIEW` → [[GraftCreateViewCommand]] (captures
  *    the original SQL text + the session's catalog/namespace context +
  *    the analyzed schema into the `_view` sidecar)
  *  - `DROP VIEW` / `ALTER VIEW … RENAME TO` / `ALTER VIEW … SET
  *    TBLPROPERTIES` / `SHOW VIEWS` → their command counterparts
  *  - a READ of a view identifier → the stored SQL text parsed and
  *    spliced in as a SubqueryAlias — LATE BINDING by construction (the
  *    text re-resolves against the tables' current state every query);
  *    the Hints batch runs to fixpoint, so views over views substitute
  *    iteratively
  *
  * Non-graft catalogs and temp views fall through untouched. */
case class GraftViewRules(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftCatalog(name: String): Option[GraftCatalog] =
    try session.sessionState.catalogManager.catalog(name) match {
      case g: GraftCatalog => Some(g)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (catalog, ident) when the multipart name addresses a graft catalog. */
  private def resolve(parts: Seq[String]): Option[(GraftCatalog, Identifier)] =
    if (parts.length < 2) None
    else graftCatalog(parts.head).map(g =>
      (g, Identifier.of(parts.tail.init.toArray, parts.last)))

  private def viewOf(parts: Seq[String]): Option[(GraftCatalog, Identifier)] =
    resolve(parts).filter { case (g, id) => g.viewExists(id) }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case CreateView(UnresolvedIdentifier(parts, _), userCols, comment, _,
          props, originalText, _, allowExisting, replace, _)
          if resolve(parts).isDefined =>
        val (g, id) = resolve(parts).get
        GraftCreateViewCommand(g, id,
          originalText.getOrElse(throw new IllegalArgumentException(
            s"CREATE VIEW ${parts.mkString(".")} carries no SQL text")),
          userCols.map(_._1), comment, props, allowExisting, replace,
          session.sessionState.catalogManager.currentCatalog.name(),
          session.sessionState.catalogManager.currentNamespace.toSeq)

      case DropView(UnresolvedIdentifier(parts, _), ifExists)
          if resolve(parts).isDefined =>
        val (g, id) = resolve(parts).get
        GraftDropViewCommand(g, id, ifExists)

      case RenameTable(UnresolvedTableOrView(parts, _, _), newName, true)
          if viewOf(parts).isDefined =>
        val (g, id) = viewOf(parts).get
        val toId =
          if (newName.length >= 2 && newName.head == parts.head)
            Identifier.of(newName.tail.init.toArray, newName.last)
          else Identifier.of(newName.init.toArray, newName.last)
        GraftRenameViewCommand(g, id, toId)

      case SetViewProperties(UnresolvedView(parts, _, _, _), props)
          if viewOf(parts).isDefined =>
        val (g, id) = viewOf(parts).get
        GraftSetViewPropertiesCommand(g, id, props)

      // ALTER VIEW … AS — redefinition: new SQL text + new capture
      // context, properties preserved
      case org.apache.spark.sql.catalyst.plans.logical.AlterViewAs(
          UnresolvedView(parts, _, _, _), originalText, _)
          if viewOf(parts).isDefined =>
        val (g, id) = viewOf(parts).get
        GraftAlterViewAsCommand(g, id, originalText,
          session.sessionState.catalogManager.currentCatalog.name(),
          session.sessionState.catalogManager.currentNamespace.toSeq)

      case ShowViews(UnresolvedNamespace(parts, _), pattern, output)
          if parts.nonEmpty && graftCatalog(parts.head).isDefined =>
        GraftShowViewsCommand(graftCatalog(parts.head).get,
          parts.tail, pattern, output)

      // READ substitution: splice the stored SQL in as a subquery — the
      // late-bound v2 view read
      case u: UnresolvedRelation if viewOf(u.multipartIdentifier).isDefined =>
        val (g, id) = viewOf(u.multipartIdentifier).get
        expandView(g, id, u.multipartIdentifier.last, Set.empty)
    }

  /** Parse the stored view SQL, qualify its unqualified table references
    * against the CAPTURE-TIME catalog/namespace the sidecar persisted
    * (a view body written under `USE cat.ns` must keep resolving there,
    * not against whatever context the READER happens to be in), and
    * eagerly expand nested graft-view references with a cycle guard —
    * a self- or mutually-referencing view fails fast with a named cycle
    * instead of spinning the fixpoint iteration to its abort limit. */
  private def expandView(g: GraftCatalog, id: Identifier, alias: String,
      inProgress: Set[String]): LogicalPlan = {
    val key = (Seq(g.name()) ++ id.namespace().toSeq :+ id.name()).mkString(".")
    if (inProgress.contains(key))
      throw new IllegalArgumentException(
        s"view cycle detected: $key references itself (directly or via " +
          s"${inProgress.mkString(" -> ")})")
    val v = g.loadView(id)
    val parsed = session.sessionState.sqlParser.parsePlan(v.query())
    val storedCat = v.currentCatalog()
    val storedNs = v.currentNamespace().toSeq
    // CTE names defined inside the body shadow table names — never
    // qualify those (they resolve in CTESubstitution, not a catalog).
    // Collected WITH the subquery-aware traversal: a WITH clause inside
    // an IN/EXISTS/scalar subquery shadows names there too.
    val cteNames = parsed.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT))
    }.flatten.toSet
    val catalogs = session.sessionState.catalogManager
    // transformUpWithSubqueries, not transformUp: a table referenced
    // only inside an IN/EXISTS/scalar subquery must get the same
    // capture-time qualification (and nested-view expansion + cycle
    // guard) as one in the main FROM — plain transformUp never descends
    // into SubqueryExpression plans, which would leave those names
    // resolving against the READER's context
    val qualified = parsed.transformUpWithSubqueries {
      case ur: UnresolvedRelation
          if ur.multipartIdentifier.length == 1 &&
            !cteNames.contains(ur.multipartIdentifier.head
              .toLowerCase(java.util.Locale.ROOT)) =>
        ur.copy(multipartIdentifier =
          (storedCat +: storedNs) ++ ur.multipartIdentifier)
      case ur: UnresolvedRelation
          if ur.multipartIdentifier.length >= 2 &&
            !catalogs.isCatalogRegistered(ur.multipartIdentifier.head) =>
        ur.copy(multipartIdentifier = storedCat +: ur.multipartIdentifier)
    }
    val expanded = qualified.transformUpWithSubqueries {
      case ur: UnresolvedRelation if viewOf(ur.multipartIdentifier).isDefined =>
        val (g2, id2) = viewOf(ur.multipartIdentifier).get
        expandView(g2, id2, ur.multipartIdentifier.last, inProgress + key)
    }
    SubqueryAlias(alias, expanded)
  }
}

case class GraftCreateViewCommand(catalog: GraftCatalog, ident: Identifier,
    sql: String, userCols: Seq[String], comment: Option[String],
    props: Map[String, String], allowExisting: Boolean, replace: Boolean,
    currentCatalog: String, currentNamespace: Seq[String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val exists = catalog.viewExists(ident)
    if (exists && allowExisting) return Nil
    // analyze (not execute) the text for the declared schema — BEFORE
    // any drop, so a REPLACE whose new body fails analysis leaves the
    // old view intact (and the old definition is still visible to the
    // analysis, matching ALTER VIEW AS)
    val analyzed = session.sessionState.executePlan(
      session.sessionState.sqlParser.parsePlan(sql)).analyzed
    val schema = analyzed.schema
    val replaced = if (exists && replace) {
      val old = catalog.loadView(ident); catalog.dropView(ident); Some(old)
    } else None
    // a plain CREATE over an existing view falls through to
    // createView's ViewAlreadyExistsException — the loud path
    val allProps = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => allProps.put(k, v) }
    comment.foreach(c => allProps.put("comment", c))
    // same restore-on-failure contract as ALTER VIEW AS: a REPLACE whose
    // create fails post-drop puts the old definition back
    try catalog.createView(new ViewInfo(ident, sql, currentCatalog,
      currentNamespace.toArray, schema,
      schema.fieldNames,
      if (userCols.nonEmpty) userCols.toArray else Array.empty[String],
      Array.empty[String], allProps))
    catch {
      case scala.util.control.NonFatal(e) =>
        replaced.foreach { old =>
          try catalog.createView(new ViewInfo(ident, old.query(),
            old.currentCatalog(), old.currentNamespace(), old.schema(),
            old.schema().fieldNames, Array.empty[String],
            Array.empty[String], old.properties()))
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
    Nil
  }
}

/** ALTER VIEW … AS: swap the stored SQL text (and capture context) while
  * preserving the view's properties. Analysis of the NEW body runs first
  * — against the OLD definition still in place — so a failing
  * redefinition leaves the view untouched. */
case class GraftAlterViewAsCommand(catalog: GraftCatalog, ident: Identifier,
    sql: String, currentCatalog: String, currentNamespace: Seq[String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val old = catalog.loadView(ident)
    val analyzed = session.sessionState.executePlan(
      session.sessionState.sqlParser.parsePlan(sql)).analyzed
    val schema = analyzed.schema
    catalog.dropView(ident)
    // drop+create is not atomic at the catalog API — if the create
    // fails after the drop (I/O error, concurrent create), restore the
    // old definition so "failed redefinition leaves the view intact"
    // holds for runtime failures too, not just analysis-time ones
    try catalog.createView(new ViewInfo(ident, sql, currentCatalog,
      currentNamespace.toArray, schema, schema.fieldNames,
      Array.empty[String], Array.empty[String], old.properties()))
    catch {
      case scala.util.control.NonFatal(e) =>
        try catalog.createView(new ViewInfo(ident, old.query(),
          old.currentCatalog(), old.currentNamespace(), old.schema(),
          old.schema().fieldNames, Array.empty[String],
          Array.empty[String], old.properties()))
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    Nil
  }
}

case class GraftDropViewCommand(catalog: GraftCatalog, ident: Identifier,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val dropped = catalog.dropView(ident)
    if (!dropped && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    Nil
  }
}

case class GraftRenameViewCommand(catalog: GraftCatalog, from: Identifier,
    to: Identifier) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.renameView(from, to); Nil
  }
}

case class GraftSetViewPropertiesCommand(catalog: GraftCatalog,
    ident: Identifier, props: Map[String, String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.alterView(ident,
      props.toSeq.map { case (k, v) => ViewChange.setProperty(k, v) }: _*)
    Nil
  }
}

case class GraftShowViewsCommand(catalog: GraftCatalog,
    namespace: Seq[String], pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val re = pattern.map(p =>
      java.util.regex.Pattern.compile(p.replace("*", ".*"),
        java.util.regex.Pattern.CASE_INSENSITIVE))
    catalog.listViews(namespace: _*)
      .filter(id => re.forall(_.matcher(id.name()).matches()))
      .toSeq.map(id =>
        Row(namespace.mkString("."), id.name(), false))
  }
}
