package org.apache.spark.sql.graft

import graft.lake.{LakeDataSource, LakeTable, LakeWrite}

import org.apache.spark.sql.catalyst.expressions.{Ascending, Cast, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

/** The OPTIMIZE-ZORDER write path through plain `df.write`:
  * `option("clusterBy", "zorder(a,b)")` lands objects clustered on the
  * MORTON interleave of both columns, so a read filtering EITHER column
  * (or a narrow box on both) prunes to ~√N of N objects where a
  * lexicographic layout prunes only its leading column.
  *
  * Why a rule and not `RequiresDistributionAndOrdering`: that interface
  * can only express sort orders Spark can resolve, and a custom
  * function-valued ordering needs a FunctionCatalog on the write plan —
  * which a pathless `df.write.format(...)` never carries. So this rule
  * rewrites the `AppendData` query with exactly the plan shape
  * `Distributions.ordered` would have produced: one range exchange on
  * the z-value (sampled boundaries — the write's usual shuffle, not an
  * extra one) plus an in-partition sort, both on the engine's codegen'd
  * [[exprs.ZInterleave]]. `writePartitions` caps the exchange's
  * partition count (≈ object count).
  *
  * The z-request is read from EITHER face, because the two ways to
  * register a rule see the plan at different times: the built
  * [[LakeWrite]] (a session's `experimental.extraOptimizations` — the
  * "User Provided Optimizers" batch runs after `V2Writes`) or the lake
  * relation's raw options (session extensions — injected operator rules
  * run BEFORE `V2Writes`, when `AppendData.write` is still None). Advisory and
  * idempotent: the rewrite fires once (guarded by the z-sort already on
  * the query) and never changes WHAT is written, only the row→task
  * layout. Registered by `graft.GraftExtensions`, which
  * `graft.Sessions.builder` installs; without the rule the option degrades to an
  * unclustered write (documented on the option), never a wrong one. */
object ZOrderWriteLayout extends Rule[LogicalPlan] {

  private def zSort(q: LogicalPlan): Boolean = q match {
    case s: Sort => s.order.exists(_.child.exists(_.isInstanceOf[exprs.ZInterleave]))
    case _ => false
  }

  /** (colA, colB, writePartitions) when this append asks for a z-layout. */
  private def zRequest(a: AppendData): Option[(String, String, Int)] = {
    def opt(name: String): Option[String] =
      a.writeOptions.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }.orElse(a.table match {
        case r: DataSourceV2Relation => Option(r.options.get(name.toLowerCase))
        case _ => None
      })
    a.write match {
      case Some(w: LakeWrite) =>
        w.zorderColumns.map { case (x, y) => (x, y, w.zorderPartitions) }
      case Some(_) => None // some other sink's write: not ours
      case None => a.table match {
        // pre-V2Writes (the extensions registration): the write is not
        // built yet — read the request straight off the lake relation's
        // options (full validation still happens in LakeWriteBuilder)
        case r: DataSourceV2Relation if r.table.isInstanceOf[LakeTable] =>
          LakeDataSource.parseClusterBy(opt("clusterBy"))._2.map {
            case (x, y) => (x, y, opt("writePartitions").map(_.toInt).getOrElse(0))
          }
        case _ => None
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a: AppendData if !zSort(a.query) && zRequest(a).isDefined =>
      val (c1, c2, parts) = zRequest(a).get
      def attr(n: String) = a.query.output
        .find(o => conf.resolver(o.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"zorder column $n not found in write query output " +
            a.query.output.map(_.name).mkString("(", ",", ")")))
      val z = exprs.ZInterleave(
        Cast(attr(c1), LongType), Cast(attr(c2), LongType))
      val order = SortOrder(z, Ascending)
      val shuffled = RepartitionByExpression(Seq(order), a.query,
        if (parts > 0) Some(parts) else None)
      a.copy(query = Sort(Seq(order), global = false, shuffled))
  }
}
