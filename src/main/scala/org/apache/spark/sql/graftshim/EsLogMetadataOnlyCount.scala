package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Aggregate statistics a manifest snapshot can answer without touching
  * data. All exact: row counts and per-file timestamp min/max come from the
  * append's stats pass over actual rows (footer-audited at commit); the
  * minimum base_offset is the lowest file's start (an index whose files
  * reach past its row bounds reports no stats, so its first row IS that
  * offset). The maximum base_offset is NOT derivable (endOffset − last
  * delta is not stored), so `max(base_offset)` never rewrites. */
final case class EsLogManifestStats(rows: Long, minOff: Long,
                                    minTs: Long, maxTs: Long, empty: Boolean)

/** Metadata-only aggregates over eslog scan relations: the manifest already
  * knows the exact committed row count and timestamp span of every file
  * (the stats the commit protocol audits against parquet footers), so an
  * unfiltered `SELECT count(*)` / `min(base_offset)` /
  * `min/max(base_timestamp)` — the first admin queries anyone runs against
  * a 100 TB stream — need zero data IO and zero tasks. The lakehouse
  * formats do the same off their snapshot stats (Delta's
  * OptimizeMetadataOnlyDeltaQuery); here the answers are additionally
  * footer-audited at commit time, so metadata and data cannot disagree.
  *
  * Fires only when the rewrite is provably exact:
  *  - no grouping, and EVERY aggregate is metadata-answerable
  *    (non-distinct, unfiltered: `count(literal)`, `min(base_offset)`,
  *    `min(base_timestamp)`, `max(base_timestamp)`);
  *  - the child is the manifest-backed relation under row-preserving
  *    Projects only — any Filter/Join/Limit in between blocks the rewrite
  *    (which is what makes the straddle-trim residual of multi-stream
  *    scans safe automatically);
  *  - the relation is a batch one (a streaming micro-batch's aggregate is
  *    stateful);
  *  - every manifest entry carries a row count ([[ManifestFile.rows]] >= 0)
  *    and the index carries no row bounds (an explicit fetch range or a
  *    mid-file trim: [[EsLogManifestFileIndex.manifestStats]] is None).
  *
  * Registered through [[graft.sql.GraftSqlExtensions]] as a post-hoc
  * optimizer rule.
  */
object EsLogMetadataOnlyCount extends Rule[LogicalPlan] {

  /** The manifest relation under row-preserving Projects only (projection
    * never changes cardinality). Returns its stats AND its own output
    * attributes: min/max matching must be by ATTRIBUTE IDENTITY (exprId),
    * never by name — a Project can alias a computed expression AS
    * `base_timestamp`, and a name match would answer it from raw manifest
    * stats (silently wrong). Pass-through Projects keep the relation's
    * exprIds; an alias of a computed expression mints a fresh one, so the
    * identity check blocks exactly the unsafe cases. */
  private def statsOf(plan: LogicalPlan)
      : Option[(EsLogManifestStats, Seq[Attribute])] = plan match {
    case Project(_, child) => statsOf(child)
    // a micro-batch's aggregate is stateful: it folds into the query's
    // running state, so a metadata answer would replace, not add to, it
    case l: LogicalRelation if !l.isStreaming =>
      l.relation match {
        case fs: HadoopFsRelation =>
          fs.location match {
            case idx: EsLogManifestFileIndex =>
              idx.manifestStats.map(st => (st, l.output))
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  /** The metadata value of one aggregate expression, if it has one.
    * `None` = not metadata-answerable (blocks the whole rewrite). A
    * `Some(null)` is a real answer: min/max over an empty relation. */
  private def metaValue(e: NamedExpression, st: EsLogManifestStats,
                        relOut: Seq[Attribute]): Option[Any] = {
    def isRel(a: AttributeReference, name: String): Boolean =
      relOut.exists(o => o.exprId == a.exprId && o.name == name)
    e match {
      case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null => Some(st.rows)
          case Min(a: AttributeReference) if isRel(a, "base_offset") =>
            Some(if (st.empty) null else st.minOff)
          case Min(a: AttributeReference) if isRel(a, "base_timestamp") =>
            Some(if (st.empty) null else st.minTs)
          case Max(a: AttributeReference) if isRel(a, "base_timestamp") =>
            Some(if (st.empty) null else st.maxTs)
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) if aggExprs.nonEmpty =>
      statsOf(child) match {
        case Some((st, relOut)) =>
          val vals = aggExprs.map(metaValue(_, st, relOut))
          if (vals.forall(_.isDefined))
            LocalRelation(agg.output, Seq(InternalRow.fromSeq(vals.map(_.get))))
          else agg
        case None => agg
      }
  }
}
