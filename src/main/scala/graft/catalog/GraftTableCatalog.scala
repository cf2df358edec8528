package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{IntegerType, Metadata, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.{ParamLiteralsStrategy, Planner}
import graft.sources.Io

/** DataSourceV2 `TableCatalog` over the XML signal catalog — the SQL
  * address path the reference exposes through its attribute-chain factory
  * (`nstx.mpts.te`, `fdf/factory.py:654-686`), re-expressed so plain SQL
  * resolves signals by their catalog-qualified name:
  *
  * {{{
  * spark.conf:
  *   spark.sql.catalog.graft         = graft.catalog.GraftTableCatalog
  *   spark.sql.catalog.graft.xml     = /path/to/machine.xml   (file or dir)
  *   spark.sql.catalog.graft.dataDir = /path/to/warehouse
  * sql:
  *   SELECT time, value FROM graft.mpts.te WHERE shot = 141000
  * }}}
  *
  * A signal `mpts.te` becomes table `te` in namespace `mpts` (container
  * nesting = namespace nesting); its data is found by `Io.signalPath`, the
  * same resolution `api.Machine` uses: the shot-directory layout
  * `dataDir/mpts_te/shot=N/`, else the flat `dataDir/mpts_te.parquet`.
  * The returned table is a thin `SupportsRead` (`ShotTable`) whose scan
  * `ShotScanRule` replaces with the file relation `Io.readShots` reads, so
  * SQL and `api.Machine` plan one V1 file scan: a shot-addressed query
  * lists one directory per named shot however large the warehouse is,
  * builds its relation from that listing without DataSource resolution,
  * and reads through the Parquet reader its read shape shares with
  * earlier queries (`Io.scan`). The file schema comes from `Io`'s schema
  * cache, which infers again after a shot directory is added or
  * replaced; nothing caches a listing. Loading
  * a table registers `ShotScanRule` and `graft.plans.ParamLiteralsStrategy`
  * on the session, so the per-request constants of a query (`channel = 3`,
  * the `time BETWEEN` bounds) do not compile a new class per request.
  *
  * Options:
  *  - `xml`          (required) catalog XML file, or a directory whose
  *                   *.xml files are merged (a module tree like the
  *                   reference's `fdf/modules/`)
  *  - `dataDir`      (required) warehouse root holding one parquet
  *                   file/dir per signal, named `<qualified>_<name>`
  *  - `stripPrefix`  optional qualified-name prefix to drop (e.g. a
  *                   synthetic root container), so `root.mpts.te` is
  *                   addressed as `mpts.te`
  *  - `template.K=v1,v2` instantiates `[K]` template containers per run
  *                   (the EFIT pattern), one branch per value
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var dataDir: String = _
  private var cat: SignalCatalog = _

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    dataDir = Option(options.get("dataDir")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name: dataDir option is required"))
    val xml = Option(options.get("xml")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name: xml option is required"))
    val templates: Map[String, Seq[String]] = options.asScala.toMap.collect {
      case (k, v) if k.startsWith("template.") =>
        k.stripPrefix("template.") -> v.split(",").map(_.trim).toSeq
    }
    val f = new java.io.File(xml)
    val merged =
      if (f.isDirectory)
        // listFiles returns null on I/O error / permission failure — that
        // must be a clear config error, not an NPE mid-initialize
        Option(f.listFiles((_, n) => n.endsWith(".xml"))).getOrElse(
            throw new IllegalArgumentException(
              s"catalog $name: cannot list xml dir $xml")).sortBy(_.getName)
          .map(x => SignalCatalog.fromFile(x.getPath, templates))
          .reduceOption(_ ++ _)
          .getOrElse(SignalCatalog(Nil))
      else SignalCatalog.fromFile(xml, templates)
    val prefix = Option(options.get("stripPrefix")).map(p =>
      if (p.endsWith(".")) p else p + ".")
    cat = prefix.fold(merged)(p =>
      SignalCatalog(merged.signals.map(s =>
        s.copy(qualifiedName = s.qualifiedName.stripPrefix(p)))))
  }

  private def qualified(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // DIRECT children only (Spark's per-level enumeration convention —
    // nested containers surface through listNamespaces, not here)
    val direct = cat.signals.map(_.qualifiedName.split('.'))
      .filter(parts => parts.init.toSeq == namespace.toSeq)
    if (direct.isEmpty && namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    direct.map(parts => Identifier.of(parts.init, parts.last)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    cat.get(qualified(ident)).isDefined

  /** The signal's merged schema: the file column types (`Io.signal`, the
    * one schema cache) plus the XML-declared metadata. Runs at analysis,
    * so `ShotScanRule` is registered before the query is optimized. */
  override def loadTable(ident: Identifier): Table = {
    val qn = qualified(ident)
    val meta = cat.get(qn).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    Planner.register(spark, Seq(ParamLiteralsStrategy()), Seq(ShotScanRule))
    val (path, fileSchema) = Io.signal(spark, dataDir, qn)
    new ShotTable(qn, path, withDeclared(fileSchema, meta.schema))
  }

  /** Column TYPES and presence come from the files (the XML declares axis
    * NAMES; value_err is per-layout) — but the XML-declared units/title
    * metadata must ride along, so an FDF user's `DESCRIBE graft.chers.ti`
    * carries 'keV' the way the API path's StructField metadata does
    * (reference parse_units, factory.py:1002-1009). */
  private def withDeclared(inferred: StructType, declared: StructType): StructType =
    StructType(inferred.fields.map { f =>
      declared.fields.find(_.name == f.name)
        .filter(_.metadata != Metadata.empty)
        .map { d =>
          // DESCRIBE renders only the comment — surface "title [units]"
          // there so plain SQL users see what the API path's StructField
          // metadata carries
          val label = Seq(
            if (d.metadata.contains("title")) Some(d.metadata.getString("title")) else None,
            if (d.metadata.contains("units")) Some(s"[${d.metadata.getString("units")}]") else None
          ).flatten.mkString(" ")
          val withMeta = f.copy(metadata = d.metadata)
          if (label.nonEmpty) withMeta.withComment(label) else withMeta
        }
        .getOrElse(f)
    })

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  // ---- namespaces: every qualified-name prefix is a namespace ----
  // computed once per initialize (the catalog is immutable after load);
  // every SQL resolution touches this, some twice
  private lazy val allNamespaces: Seq[Seq[String]] =
    cat.signals.flatMap { s =>
      val parts = s.qualifiedName.split('.').init
      (1 to parts.length).map(parts.take(_).toSeq)
    }.distinct

  override def listNamespaces(): Array[Array[String]] =
    allNamespaces.filter(_.length == 1).map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    allNamespaces.filter(ns =>
      ns.length == namespace.length + 1 && ns.startsWith(namespace.toSeq))
      .map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    allNamespaces.contains(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only (XML-declared)")
}

object GraftTableCatalog {

  /** The shots a list of conjuncts pins `shot` to: the intersection of its
    * `shot = n` and `shot IN (…)` conjuncts with integer literals, or None
    * when none does. Other conjuncts never narrow the set, so the rows the
    * filters select always lie in the shots returned. */
  private[catalog] def pinnedShots(filters: Seq[Expression]): Option[Set[Int]] = {
    def shotCol(e: Expression) = e match {
      case a: Attribute => a.name == "shot"
      case _ => false
    }
    def int(e: Expression): Option[Int] = e match {
      case Literal(n: Int, IntegerType) => Some(n)
      case _ => None
    }
    filters.flatMap {
      case EqualTo(a, v) if shotCol(a) => int(v).map(Set(_))
      case EqualTo(v, a) if shotCol(a) => int(v).map(Set(_))
      case In(a, vs) if shotCol(a) && vs.forall(int(_).isDefined) => Some(vs.flatMap(int).toSet)
      case InSet(a, vs) if shotCol(a) && vs.forall(_.isInstanceOf[Int]) =>
        Some(vs.map(_.asInstanceOf[Int]))
      case _ => None
    }.reduceOption(_ intersect _)
  }
}

/** The table `GraftTableCatalog.loadTable` returns: the signal's merged
  * schema, and a scan that `ShotScanRule` replaces. */
private[catalog] final class ShotTable(qn: String, path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = qn
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => ShotScan(path, tableSchema)
}

/** A `ShotTable`'s scan: the signal's path and schema, with no pushdown
  * and no listing. It has no `toBatch`, so a plan that `ShotScanRule` did
  * not rewrite fails rather than reading another way. */
private[catalog] final case class ShotScan(path: String, schema: StructType) extends Scan {
  override def readSchema(): StructType = schema
}

/** Replaces each scan of a `ShotScan` with `Io.scan`'s file relation over
  * the shots that `pinnedShots` finds in the `Filter` directly above it,
  * or over the whole path. The relation keeps the scan's output attributes
  * by name, so their ids and the XML units/title metadata survive, and
  * `FileSourceStrategy` plans it as it plans `api.ShotView`'s read. It runs
  * in "User Provided Optimizers", after "Early Filter and Projection
  * Push-Down" has built the scan and left the query's filters above it. */
object ShotScanRule extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
    case f @ Filter(cond, s @ DataSourceV2ScanRelation(_, scan: ShotScan, _, _, _)) =>
      f.copy(child = relation(s, scan, GraftTableCatalog.pinnedShots(splitConjunctivePredicates(cond))))
    case s @ DataSourceV2ScanRelation(_, scan: ShotScan, _, _, _) => relation(s, scan, None)
  }

  private def relation(s: DataSourceV2ScanRelation, scan: ShotScan,
      shots: Option[Set[Int]]): LogicalRelation = {
    val byName = s.output.map(a => a.name -> a).toMap
    val rel = Io.scan(SparkSession.active, scan.path, scan.schema, shots)
    rel.copy(output = rel.output.map(a => byName.getOrElse(a.name, a)))
  }
}
