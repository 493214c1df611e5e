package graft.schema

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.{DataType, StructType}

/** Rewrites a resolved plan so every file-based scan reads only its pruned
  * nested schema (as computed by [[SchemaOnRead]]) — the auto-apply the
  * reference left to the user ("re-create the read with the generated
  * schema", reference README.md:20-28). Fail-open: any error or any change
  * to the query's result schema abandons the rewrite, logged once as a
  * warning with its reason.
  *
  * The mechanical core is attribute/ordinal resynchronization: narrowing a
  * relation's `dataSchema` changes struct field ordinals and attribute
  * datatypes, so every `GetStructField` / `GetArrayStructFields` above the
  * scan is re-anchored by *name*, and stale attribute datatypes are
  * propagated bottom-up (the part the reference sidesteps by making the
  * caller rebuild the query).
  */
object PlanRewriter extends org.apache.spark.internal.Logging {

  /** Marks plans this rule has already processed — the rule sits in a
    * fix-point optimizer batch and re-analysis is pure overhead. */
  private val processedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.schemaOnRead.processed")

  def prune(plan: LogicalPlan, spark: SparkSession): LogicalPlan = {
    if (plan.getTagValue(processedTag).contains(true)) return plan
    plan.setTagValue(processedTag, true)
    try {
      val result = SchemaOnRead.generate(plan, spark)
      val narrowed = result.schemas.filter { case (k, pruned) =>
        result.fullSchemas.get(k).exists(full => leafCount(pruned) < leafCount(full))
      }
      if (narrowed.isEmpty) return plan
      val rewriter = new Rewriter(spark, narrowed, result.qualify)
      val out = rewriter(plan)
      out.setTagValue(processedTag, true)
      // The rewrite must stay resolved and the query's visible result
      // schema unchanged — otherwise abandon it (fail-open).
      if (!out.resolved) abandon(plan, "unresolved")
      else if (sameSchema(out.schema, plan.schema)) out
      else abandon(plan, "result schema changed")
    } catch {
      case NonFatal(e) => abandon(plan, s"exception ($e)")
    }
  }

  private def abandon(plan: LogicalPlan, reason: String): LogicalPlan = {
    logWarning(s"schema-on-read rewrite abandoned ($reason); plan left unchanged")
    plan
  }

  private def sameSchema(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name && x.dataType == y.dataType
    }

  private[schema] def leafCount(dt: DataType): Int = dt match {
    case s: StructType => if (s.isEmpty) 1 else s.fields.map(f => leafCount(f.dataType)).sum
    case a: org.apache.spark.sql.types.ArrayType => leafCount(a.elementType)
    case m: org.apache.spark.sql.types.MapType   => leafCount(m.keyType) + leafCount(m.valueType)
    case _ => 1
  }

  private final class Rewriter(
      spark: SparkSession,
      narrowed: Map[RelationKey, StructType],
      qualify: PathQualifier) {
    private val resolver = spark.sessionState.conf.resolver
    private val idMap = mutable.Map.empty[ExprId, AttributeReference]

    def apply(plan: LogicalPlan): LogicalPlan = rewritePlan(plan)

    private def rewritePlan(p: LogicalPlan): LogicalPlan = {
      val withChildren =
        if (p.children.isEmpty) p
        else p.withNewChildren(p.children.map(rewritePlan))
      val rewritten = withChildren match {
        case lr: LogicalRelation =>
          lr.relation match {
            case fs: HadoopFsRelation =>
              narrowed.get(qualify(fs.location.inputFiles.toSeq))
                .map(rewriteRelation(lr, fs, _)).getOrElse(lr)
            case _ => lr
          }
        case d: DataSourceV2Relation =>
          d.table match {
            case ft: FileTable =>
              narrowed.get(qualify(ft.fileIndex.inputFiles.toSeq))
                .map(rewriteRelationV2(d, ft, _)).getOrElse(d)
            case _ => d
          }
        case h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
          // keyed by catalog identity — Hive tables expose no file list at
          // analysis time (mirrors SchemaOnRead.walk)
          narrowed.get(RelationKey(Vector("catalog:" + h.tableMeta.qualifiedName)))
            .map(rewriteHiveRelation(h, _)).getOrElse(h)
        case node =>
          val mapped = node.mapExpressions(rewriteExpr)
          mapped match {
            case g: Generate => resyncGenerate(g)
            case other       => other
          }
      }
      // Propagate output-type changes to upstream attribute references —
      // matched by exprId, never by position (a relation rewrite can drop
      // columns and change output arity).
      val newById = rewritten.output.map(a => a.exprId -> a).toMap
      p.output.foreach { o =>
        newById.get(o.exprId).foreach { n =>
          if (n.dataType != o.dataType) n match {
            case a: AttributeReference => idMap(o.exprId) = a
            case _                     => ()
          }
        }
      }
      rewritten
    }

    /** Formats that resolve columns by NAME — positional formats (CSV,
      * text) must keep their full dataSchema or columns shift. */
    private def nameBasedFormat(fs: HadoopFsRelation): Boolean = {
      val n = fs.fileFormat.getClass.getSimpleName.toLowerCase(java.util.Locale.ROOT)
      n.contains("parquet") || n.contains("orc") || n.contains("json")
    }

    private def rewriteRelation(
        lr: LogicalRelation, fs: HadoopFsRelation, pruned: StructType): LogicalPlan = {
      if (!nameBasedFormat(fs)) return lr
      val partitionNames = fs.partitionSchema.fieldNames.toSet
      // Intersect with the relation's current output: a relation already
      // narrowed (built-in pruning, or an earlier pass on a shared
      // subquery plan) must not get columns re-added that its output no
      // longer exposes.
      val outputNames = lr.output.map(_.name)
      val newDataSchema = StructType(
        pruned.fields.filter(f => !partitionNames.exists(resolver(_, f.name)))
          .filter(f => outputNames.exists(resolver(_, f.name))))
      if (newDataSchema.isEmpty) return lr
      val newFs = fs.copy(dataSchema = newDataSchema)(fs.sparkSession)
      val newOutput = lr.output.flatMap { a =>
        newFs.schema.fields.find(f => resolver(f.name, a.name)).map { f =>
          val na = AttributeReference(a.name, f.dataType, f.nullable, a.metadata)(
            a.exprId, a.qualifier)
          if (na.dataType != a.dataType) idMap(a.exprId) = na
          na
        }
      }
      lr.copy(relation = newFs, output = newOutput.toIndexedSeq)
    }

    /** DSv2 [[FileTable]] analogue of [[rewriteRelation]]: rebuild the
      * table with the pruned schema as its user-specified schema —
      * `FileTable` itself splits that into data vs partition sides and
      * re-appends partition columns, so the pruned struct can be handed
      * over whole — then resync output attributes by name. Only
      * name-resolving formats are rewritten; positional ones (CSV, text)
      * keep their full schema, mirroring the V1 path. */
    private def rewriteRelationV2(
        d: DataSourceV2Relation, ft: FileTable, pruned: StructType): LogicalPlan = {
      val outputNames = d.output.map(_.name)
      val newUserSchema = StructType(
        pruned.fields.filter(f => outputNames.exists(resolver(_, f.name))))
      if (newUserSchema.isEmpty) return d
      val newTable: FileTable = ft match {
        case t: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable =>
          t.copy(userSpecifiedSchema = Some(newUserSchema))
        case t: org.apache.spark.sql.execution.datasources.v2.orc.OrcTable =>
          t.copy(userSpecifiedSchema = Some(newUserSchema))
        case t: org.apache.spark.sql.execution.datasources.v2.json.JsonTable =>
          t.copy(userSpecifiedSchema = Some(newUserSchema))
        case _ => return d
      }
      val newOutput = d.output.flatMap { a =>
        newTable.schema.fields.find(f => resolver(f.name, a.name)).map { f =>
          val na = AttributeReference(a.name, f.dataType, f.nullable, a.metadata)(
            a.exprId, a.qualifier)
          if (na.dataType != a.dataType) idMap(a.exprId) = na
          na
        }
      }
      d.copy(table = newTable, output = newOutput.toIndexedSeq)
    }

    /** Hive-format catalog tables: narrow `tableMeta.schema`'s data side
      * (the serde derives its read schema from it) and the matching
      * `dataCols`, keeping partition columns whole — the Hive analogue of
      * [[rewriteRelation]]. Fail-open as everywhere: a non-narrowable
      * shape returns the relation unchanged, and `prune()`'s result-schema
      * guard abandons any rewrite that would change visible output. */
    private def rewriteHiveRelation(
        h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation,
        pruned: StructType): LogicalPlan = {
      val partNames = h.tableMeta.partitionColumnNames.toSet
      val dataColNames = h.dataCols.map(_.name)
      val newDataFields = pruned.fields.toSeq
        .filter(f => !partNames.exists(resolver(_, f.name)))
        .filter(f => dataColNames.exists(resolver(_, f.name)))
      if (newDataFields.isEmpty) return h
      val newMeta = h.tableMeta.copy(schema =
        StructType(newDataFields ++ h.tableMeta.partitionSchema.fields))
      val newDataCols = h.dataCols.flatMap { a =>
        newDataFields.find(f => resolver(f.name, a.name)).map { f =>
          val na = AttributeReference(a.name, f.dataType, f.nullable, a.metadata)(
            a.exprId, a.qualifier)
          if (na.dataType != a.dataType) idMap(a.exprId) = na
          na
        }
      }
      h.copy(tableMeta = newMeta, dataCols = newDataCols)
    }

    /** Generator output attribute types derive from the (possibly
      * narrowed) generator input — resync them positionally. */
    private def resyncGenerate(g: Generate): Generate = {
      val elem = g.generator.elementSchema
      if (elem.length != g.generatorOutput.length) g
      else {
        val newOut = g.generatorOutput.zip(elem.fields).map { case (a, f) =>
          if (a.dataType == f.dataType) a
          else {
            val na = AttributeReference(a.name, f.dataType, f.nullable, a.metadata)(
              a.exprId, a.qualifier)
            idMap(a.exprId) = na
            na
          }
        }
        g.copy(generatorOutput = newOut)
      }
    }

    private def rewriteExpr(e: Expression): Expression = e match {
      case a: AttributeReference => idMap.getOrElse(a.exprId, a)
      case g: GetStructField =>
        val origName = g.child.dataType match {
          case s: StructType if g.ordinal < s.length => s(g.ordinal).name
          case _ => g.name.getOrElse(return g.mapChildren(rewriteExpr))
        }
        val nc = rewriteExpr(g.child)
        nc.dataType match {
          case s: StructType =>
            val ord = s.fields.indexWhere(f => resolver(f.name, origName))
            if (ord < 0)
              // demand analysis guarantees the field survives; a miss means
              // the rewrite is unsound — fail FAST so prune() abandons it
              // (keeping the stale ordinal would silently read another field)
              throw new IllegalStateException(s"pruned field $origName missing")
            else GetStructField(nc, ord, Some(origName))
          case _ => g.copy(child = nc)
        }
      case g: GetArrayStructFields =>
        val origName = g.field.name
        val nc = rewriteExpr(g.child)
        nc.dataType match {
          case org.apache.spark.sql.types.ArrayType(s: StructType, cn) =>
            val ord = s.fields.indexWhere(f => resolver(f.name, origName))
            if (ord < 0)
              throw new IllegalStateException(s"pruned field $origName missing")
            else GetArrayStructFields(nc, s(ord), ord, s.length, cn || g.field.nullable)
          case _ => g.copy(child = nc)
        }
      case s: SubqueryExpression =>
        s.withNewPlan(rewritePlan(s.plan)).mapChildren(rewriteExpr)
      case other => other.mapChildren(rewriteExpr)
    }
  }

}

/** Optimizer rule applying [[PlanRewriter]] to every query, gated by
  * `spark.graft.schemaOnRead.enabled` (default true). Injected via
  * [[GraftExtensions]] into the user-provided optimizer batches (a
  * processed-plan tag keeps the fix-point iterations from re-running the
  * analysis); Spark's own `SchemaPruning` runs later in Early Scan
  * Push-Down and composes with the narrowing done here.
  */
class PrunedScanRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.schemaOnRead.enabled", "true").toBoolean) plan
    else if (!plan.resolved) plan
    else PlanRewriter.prune(plan, spark)
}

/** `spark.sql.extensions=graft.schema.GraftExtensions` enables automatic
  * nested-read pruning for all queries in the session, registers the
  * library's native SQL functions (`graft_cosine`, `graft_zvalue`,
  * `graft_hilbert`) and sizes Spark's codegen class cache
  * ([[GraftExtensions.sizeCodegenCache]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // extensions are applied once the session's SparkContext exists
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    ext.injectOptimizerRule(spark => new PrunedScanRule(spark))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          s"graft_cosine takes exactly 2 arguments, got ${children.length}")
        graft.functions.CosineSimilarity(children(0), children(1))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_zvalue"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.ZValue].getName, "graft_zvalue"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ZValue(children)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hilbert"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HilbertIndex].getName, "graft_hilbert"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HilbertIndex(children)))
  }
}

object GraftExtensions {

  /** Capacity of Spark's codegen class cache once sized here. Spark keys
    * the JVM-wide cache by (class loader, source), so a whole-stage class
    * takes two entries, the driver's validation compile and the
    * executor's. One pass of perfbench's `operator_mix` (7 operator
    * queries) compiles 212 classes; Spark's default of 100 evicts each
    * before its next use, so every later pass recompiled 210 of them
    * (1.3-1.9 s of a 6.7-7.5 s pass on 4 cores). Cached, they added
    * 5.7 MB of live heap (82.6 -> 88.3 MB), about 27 KB a class, so a
    * full cache of 1,024 holds about 28 MB. */
  val CodegenCacheEntries = 1024

  private val sized = new AtomicBoolean(false)

  /** Size Spark's codegen class cache to [[CodegenCacheEntries]]. Spark
    * builds the cache once per JVM, when `CodeGenerator` is first used,
    * from the static conf `spark.sql.codegen.cache.maxEntries` (default
    * 100), so this forces that first use under a conf that carries the
    * capacity. It does nothing when `conf` sets the key (the user's value
    * is honoured), when it has run before, or when `CodeGenerator` is
    * already initialized in this JVM (the cache keeps its size). */
  def sizeCodegenCache(conf: SparkConf): Unit =
    if (!conf.contains(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) &&
        sized.compareAndSet(false, true)) {
      val withCapacity = new SQLConf
      withCapacity.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
      SQLConf.withExistingConf(withCapacity)(CodeGenerator.compileTime)
    }
}
