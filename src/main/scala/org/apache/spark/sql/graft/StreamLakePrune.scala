package org.apache.spark.sql.graft

import graft.lake.LakeMicroBatchStream

import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation

/** Delivers a streaming query's plain `WHERE` to the lake micro-batch
  * source for OBJECT-level pruning.
  *
  * Spark's `V2ScanRelationPushDown` never visits a streaming relation —
  * `MicroBatchExecution` builds the scan as `newScanBuilder(options)
  * .build()`, so `SupportsPushDownFilters` is structurally unreachable
  * from a `readStream` plan and a filtered backfill would read every
  * object in the window. This rule closes that gap from the other side:
  * it matches `Filter` directly above a lake
  * [[StreamingDataSourceV2ScanRelation]] in the PER-MICRO-BATCH
  * optimized plan (`IncrementalExecution` re-optimizes every trigger, and
  * `PushDownPredicates` has already pushed deterministic conjuncts down
  * to the relation by the time user-provided rules run), translates the
  * conjuncts to `sources.Filter`s, and hands them to
  * [[LakeMicroBatchStream.deliverFilters]].
  *
  * The plan itself is returned UNCHANGED — the rule is advisory, the
  * `Filter` node stays and re-applies row-level, so a bloom false
  * positive costs an opened object, never a wrong row (exactly the batch
  * scan's contract). Delivery replaces the previous trigger's set
  * wholesale (the stream recompiles only on change), and happens ONLY
  * when the stream's relation occurs exactly once in the plan: a
  * self-union/self-join deduplicates into ONE shared stream instance,
  * and conjoining the branches' different WHEREs would prune objects
  * that one branch still needs — the exact hazard that keeps Spark
  * itself from pushing filters into streaming sources. Multi-occurrence
  * plans simply read unpruned, row-level filters intact. Registered by
  * `graft.GraftExtensions`, which `graft.Sessions.builder` installs.
  */
object StreamLakePrune extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // occurrence count per stream INSTANCE (reference identity — the
    // dedup hazard is precisely that branches share one instance)
    val occurrences = plan.collect {
      case r: StreamingDataSourceV2ScanRelation
          if r.stream.isInstanceOf[LakeMicroBatchStream] => r.stream
    }
    plan.foreach {
      case Filter(cond, r: StreamingDataSourceV2ScanRelation) =>
        r.stream match {
          case mb: LakeMicroBatchStream
              if occurrences.count(_ eq mb) == 1 =>
            val translated = splitConjunctivePredicates(cond).flatMap(e =>
              DataSourceStrategy.translateFilter(
                e, supportNestedPredicatePushdown = true))
            if (translated.nonEmpty) mb.deliverFilters(translated.toArray)
          case _ => ()
        }
      case _ => ()
    }
    plan
  }
}
