package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, SubqueryAlias}

/** Frame-materialization policy helpers shared by the composed pipelines. */
private[graft] object Frames {

  /** Is this frame's plan a BARE source — a leaf relation (table scan /
    * in-memory rows / an already-materialized localCheckpoint), possibly
    * under aliases and attribute-only projections? Such plans are cheap to
    * re-evaluate per leg (a table re-scan keeps per-leg column pruning;
    * a LogicalRDD is already cached), so a multi-reference barrier buys
    * nothing and — at a 100 TB table — would force a full copy of the
    * table into executor-local storage. Anything else (joins, filters,
    * computed columns, aggregations upstream) is a derived DAG worth
    * materializing once. */
  def isBareSource(df: DataFrame): Boolean = {
    def passthrough(e: NamedExpression): Boolean = e match {
      case _: AttributeReference => true
      case Alias(_: AttributeReference, _) => true // bare rename (e.g. toDF)
      case _ => false
    }
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case Project(exprs, child) if exprs.forall(passthrough) => strip(child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case _: LocalRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case leaf if leaf.children.isEmpty => leaf.getClass.getSimpleName match {
        case "LogicalRelation" | "DataSourceV2Relation" | "DataSourceV2ScanRelation" |
             "HiveTableRelation" | "UnresolvedCatalogRelation" | "View" => true
        case _ => false
      }
      case _ => false
    }
  }

  /** Lazily localCheckpoint a multiply-referenced frame UNLESS it is a bare
    * source ([[isBareSource]]) — the shared one-barrier discipline of the
    * composed pipelines, now skipping the barrier where re-scan is the
    * cheaper plan (a standing corpus passed as its raw table scan). */
  def barrier(df: DataFrame): DataFrame =
    if (isBareSource(df)) df else df.localCheckpoint(false)

  /** Size a frame's OUTPUT FILES before a parquet write (guide §6: aim
    * for few, advisory-sized files instead of one tiny file per upstream
    * partition): an AQE rebalance, so a batch-shaped append writes ~1
    * file locally and advisory-sized (`spark.sql.adaptive.
    * advisoryPartitionSizeInBytes`) files on a cluster — scale-adaptive,
    * never a hard-coded partition count. The state tables are re-SCANNED
    * every ingest batch and re-LISTED by every swap/compaction, so the
    * per-append file count is a recurring cost, not a one-off; the write
    * job itself also drops from one parquet-writer init + commit-rename
    * per upstream partition to one per output file. Layout-only: row
    * content is untouched. With AQE off, Spark's hint resolution drops
    * `rebalance` (nothing would coalesce it), so no shuffle is planned —
    * FramesSpec pins that. */
  private[graft] def sizedWrite(df: DataFrame): DataFrame =
    df.hint("rebalance")
}
