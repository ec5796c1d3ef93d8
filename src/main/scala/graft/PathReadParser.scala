package graft

import java.util.Locale
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.control.NonFatal

/** The session's SQL parser, with file relations read through
  * [[Tables.read]].
  *
  * Spark resolves `parquet.`path`` and `orc.`path`` in SQL with its
  * `ResolveSQLOnFile` rule, which infers the schema on every query: a Spark
  * job reading footers, each time. The parser is the only extension point
  * that runs before that rule, so this wrapper rewrites such a relation in
  * the parsed plan — in the main query, subqueries and CTE bodies — into the
  * resolved relation of `Tables.read(spark, format, Map.empty, Seq(path))`,
  * which reuses a schema while the files under the path stay the same
  * (SNIPPETS [2]/[3]: a Dataset over an already-resolved plan).
  *
  * A relation is rewritten only when Spark itself would read it as a file:
  * `spark.sql.runSQLOnFiles` is on, it names exactly a format and a path,
  * it carries no SQL options, and no table or view has that name. A read
  * that fails with an `AnalysisException` (a missing path's
  * `PATH_NOT_FOUND`) raises it here, as `ResolveSQLOnFile` passes such an
  * error through unchanged, so the path is listed once; any other failure
  * leaves the relation to Spark, whose rule then raises its own error.
  */
private[graft] final class PathReadParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    readPaths(delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    readPaths(delegate.parsePlanWithParameters(sqlText, ctx))
  override def parseQuery(sqlText: String): LogicalPlan =
    readPaths(delegate.parseQuery(sqlText))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)

  private def readPaths(plan: LogicalPlan): LogicalPlan =
    if (!spark.sessionState.conf.runSQLonFile) plan
    else plan.transformUpWithSubqueries {
      case u: UnresolvedRelation => fileRead(u).getOrElse(u)
      // CTE bodies are inner children, not children: rewrite them here
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (name, body, depth) => (name, readPaths(body).asInstanceOf[SubqueryAlias], depth)
      })
    }

  private def fileRead(u: UnresolvedRelation): Option[LogicalPlan] = u.multipartIdentifier match {
    case Seq(format, path) if PathReadParser.Formats(format.toLowerCase(Locale.ROOT)) &&
        path.nonEmpty && u.options.isEmpty && !u.isStreaming && !isTableOrView(format, path) =>
      try Some(Tables.read(spark, format.toLowerCase(Locale.ROOT), Map.empty, Seq(path))
        .queryExecution.analyzed)
      catch {
        // Spark's rule would raise the same error on a second listing
        case e: AnalysisException => throw e
        case NonFatal(_) => None
      }
    case _ => None
  }

  /** Whether the analyzer would resolve `format`.`path` as a table or view
    * (say, a `parquet` database or catalog) before reading it as a file.
    */
  private def isTableOrView(format: String, path: String): Boolean = {
    def quote(s: String) = "`" + s.replace("`", "``") + "`"
    scala.util.Try(spark.catalog.tableExists(quote(format) + "." + quote(path))).getOrElse(true)
  }
}

private[graft] object PathReadParser {
  /** The formats whose path relations go through [[Tables.read]]. */
  val Formats: Set[String] = Set("parquet", "orc")
}
