package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import graft.operators.{GraftTable, Scale}

/** SQL spellings for graft-table MAINTENANCE — the last library-only
  * corner of the storage layer (DML landed as h15/h17/h18, reads and
  * time travel as h13/h14/h16, introspection as the [[GraftMeta]]
  * TVFs). Stock Spark has no VACUUM/OPTIMIZE statement, so these
  * arrive through `SparkSessionExtensions.injectParser` — the
  * Delta-style delegating parser: a tiny anchored grammar is matched
  * first, everything else goes verbatim to the stock parser, so the
  * extension can never change the meaning of a statement it does not
  * own.
  *
  * {{{
  * VACUUM GRAFT '<root>' RETAIN <n> VERSIONS
  *   -- Scale.vacuumSnapshots: returns one row per removed version
  * OPTIMIZE GRAFT '<root>' SQUASH FEED KEY <col> FROM <v> TO <v>
  *   -- Scale.squashFeed: one checkpointed net-change range
  * OPTIMIZE GRAFT '<root>' COMPACT DELETES KEY <col>
  *   -- Scale.compactDeletes: folds equality-delete files into the base
  * OPTIMIZE GRAFT '<root>' REINDEX
  *   -- GraftTable.reindexAuto: rebuild skipping manifests for the
  *      current generation from the recorded index spec
  * }}}
  *
  * Each statement compiles to a [[LeafRunnableCommand]] calling the
  * SAME library entry point programmatic callers use — the same table
  * lock, the same commit seam (so the same crash-safety), identical
  * semantics; the SQL form adds nothing but the spelling. Commands
  * return status ROWS (removed versions, the checkpoint tag, the new
  * MoR state, the rebuilt index spec) so maintenance is scriptable
  * with plain SQL over the results.
  */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenancePlan(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // Anchored, case-insensitive; the path is a standard single-quoted
  // SQL string ('' escapes a quote), identifiers are plain or
  // backquoted. Anything that does not match IN FULL falls through to
  // the stock parser (which rejects VACUUM/OPTIMIZE as unknown syntax,
  // so a malformed graft statement still errors loudly rather than
  // silently doing nothing).
  private val P = """'((?:[^']|'')*)'"""            // SQL string literal
  private val I = """(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))""" // identifier

  private val vacuumRe =
    s"""(?is)\\s*VACUUM\\s+GRAFT\\s+$P\\s+RETAIN\\s+(\\d+)\\s+VERSIONS\\s*;?\\s*""".r
  private val squashRe =
    s"""(?is)\\s*OPTIMIZE\\s+GRAFT\\s+$P\\s+SQUASH\\s+FEED\\s+KEY\\s+$I\\s+FROM\\s+(\\d+)\\s+TO\\s+(\\d+)\\s*;?\\s*""".r
  private val compactRe =
    s"""(?is)\\s*OPTIMIZE\\s+GRAFT\\s+$P\\s+COMPACT\\s+DELETES\\s+KEY\\s+$I\\s*;?\\s*""".r
  private val reindexRe =
    s"""(?is)\\s*OPTIMIZE\\s+GRAFT\\s+$P\\s+REINDEX\\s*;?\\s*""".r

  private def unq(s: String): String = s.replace("''", "'")
  private def ident(bq: String, plain: String): String =
    if (bq != null) bq else plain

  def maintenancePlan(sqlText: String): Option[LogicalPlan] = sqlText match {
    case vacuumRe(path, n) =>
      Some(GraftVacuumCommand(unq(path), n.toInt))
    case squashRe(path, bq, plain, from, to) =>
      Some(GraftSquashFeedCommand(unq(path), ident(bq, plain),
        from.toLong, to.toLong))
    case compactRe(path, bq, plain) =>
      Some(GraftCompactDeletesCommand(unq(path), ident(bq, plain)))
    case reindexRe(path) =>
      Some(GraftReindexCommand(unq(path)))
    case _ => None
  }
}

/** `VACUUM GRAFT '<root>' RETAIN <n> VERSIONS` — one row per removed
  * snapshot version (empty result = nothing eligible). */
case class GraftVacuumCommand(path: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("removed_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Scale.vacuumSnapshots(spark, path, keepLast).map(Row(_))
}

/** `OPTIMIZE GRAFT '<root>' SQUASH FEED KEY <col> FROM <v> TO <v>` —
  * returns the checkpoint tag written. */
case class GraftSquashFeedCommand(path: String, keyCol: String,
                                  fromV: Long, toV: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("checkpoint", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    Scale.squashFeed(spark, path, keyCol, fromV, toV)
    Seq(Row(s"c=${fromV}_$toV"))
  }
}

/** `OPTIMIZE GRAFT '<root>' COMPACT DELETES KEY <col>` — returns the
  * post-compaction merge-on-read state (new base version, fence). */
case class GraftCompactDeletesCommand(path: String, keyCol: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("base_version", LongType, nullable = false)(),
    AttributeReference("fence", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    Scale.compactDeletes(spark, path, keyCol)
    val (v, fence) = Scale.morPointer(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no merge-on-read pointer at $path after compaction"))
    Seq(Row(v, fence))
  }
}

/** `OPTIMIZE GRAFT '<root>' REINDEX` — rebuild the skipping index for
  * the current generation from the recorded spec; returns the spec
  * actually applied (empty result = table has no index spec). */
case class GraftReindexCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("zone_cols", StringType, nullable = false)(),
    AttributeReference("bloom_cols", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val spec = GraftTable.indexSpec(spark, path)
    GraftTable.reindexAuto(spark, path, spec)
    spec.toSeq.map { case (zones, blooms) =>
      Row(zones.mkString(","), blooms.mkString(","))
    }
  }
}
