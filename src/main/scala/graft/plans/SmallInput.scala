package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, Command, Deduplicate, Distinct, GlobalLimit, Join, LeafNode, LocalRelation, LogicalPlan, Offset, OneRowRelation, Range, RebalancePartitions, RepartitionOperation, ReturnAnswer, SetOperation, Sort, Tail, UnaryNode, V2WriteCommand, Window}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFiles}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.sql.internal.SQLConf

/** Small-input execution profile: a query whose whole input fits the
  * broadcast threshold is planned once, statically, instead of adaptively.
  *
  * At that size a query is bound by fixed per-query cost — AQE's
  * materialize-and-replan round per stage, and one task per shuffle
  * partition on every reduce stage — not by data. What AQE's partition
  * coalescing converges to at runtime is known at planning time here: one
  * reduce partition. So the planner wraps the query root in [[SmallInput]]
  * ([[SmallInputRoot]]), and plans and prepares the subtree under a clone of
  * the session's SQL conf with `spark.sql.adaptive.enabled=false` and
  * `spark.sql.shuffle.partitions=1` — the static mirror of the adaptive
  * result, without its rounds (Dremel's fixed-cost finding, VLDB 2020; the
  * in-process engine argument of the DataFusion paper, SIGMOD 2024). The
  * prepared plan is the [[SmallInputExec]]'s inner child, so the outer
  * `InsertAdaptiveSparkPlan` sees a leaf and leaves it whole.
  *
  * When it fires ([[SmallInputRoot]]): AQE on, `forceApply` off, a
  * batch plan, and the summed input bytes of the WHOLE query — every leaf,
  * subquery plans included — at most `spark.sql.autoBroadcastJoinThreshold`
  * (> 0). Only leaves whose size is already known count: a file relation's
  * `HadoopFsRelation.sizeInBytes` (from its file index: no listing, no
  * footer read), a local relation's, a range's or a one-row relation's
  * stats. Any other leaf (an RDD, a checkpoint, a v2 or unknown source, a
  * cached relation) leaves the query alone. So do `observe()` plans:
  * Spark collects observed metrics from the outer physical tree only. So
  * does a plan with no shuffle operator and no subquery: AQE does not
  * apply to it either.
  *
  * Where it wraps: the root of a query only — the whole collected plan, or
  * the query directly under a write command (through the planned-write
  * `WriteFiles` node). Never a subtree of a larger query, never another
  * command. The wrap happens at physical planning, so the optimized plan
  * is the one the optimizer made, and the DataFrame stays on the caller's
  * session.
  */
case class SmallInput(child: LogicalPlan, inputBytes: BigInt) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

/** Places [[SmallInput]] at the root of the plan the planner is asked for.
  * [[SmallInputStrategy]] applies it to the planner's root (`ReturnAnswer`),
  * once per query, after the optimizer is done. The planner is also asked
  * for the plan of each subquery of an adaptive query, as a root of its
  * own; so every subquery plan met under a root is tagged, and a tagged
  * plan — or one built over a tagged plan, as dynamic pruning's aggregate
  * is — is never wrapped. A session whose settings rule the profile out
  * pays no walk at all. */
object SmallInputRoot extends Rule[LogicalPlan] {

  private val PartOfQuery = TreeNodeTag[Unit]("graft.smallInput.partOfQuery")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else {
      tagSubqueries(plan)
      if (plan.exists(_.getTagValue(PartOfQuery).isDefined)) plan
      else plan match {
        case c: V2WriteCommand => wrapQuery(c.query).fold(plan)(c.withNewQuery)
        case c: DataWritingCommand =>
          wrapQuery(c.query).fold(plan)(q => c.withNewChildren(Seq(q)))
        case _: Command | _: SmallInput => plan
        case _ => eligible(plan).fold(plan)(SmallInput(plan, _))
      }
    }

  /** The session settings that allow the profile: AQE on, `forceApply` off,
    * a positive broadcast threshold. The profile's own conf fails this, so
    * nothing planned under it is wrapped again. */
  private def enabled: Boolean = conf.adaptiveExecutionEnabled &&
    !conf.getConf(SQLConf.ADAPTIVE_EXECUTION_FORCE_APPLY) && conf.autoBroadcastJoinThreshold > 0

  /** Leaves are not tagged: a leaf relation object is shared by every
    * query over the same view. */
  private def tagSubqueries(plan: LogicalPlan): Unit = plan.foreach(_.expressions.foreach(_.foreach {
    case s: SubqueryExpression =>
      if (!s.plan.isInstanceOf[LeafNode]) s.plan.setTagValue(PartOfQuery, ())
      tagSubqueries(s.plan)
    case _ =>
  }))

  private def wrapQuery(q: LogicalPlan): Option[LogicalPlan] = q match {
    case _: SmallInput => None
    case w: WriteFiles => wrapQuery(w.child).map(c => w.withNewChildren(Seq(c)))
    case _ => eligible(q).map(SmallInput(q, _))
  }

  /** The summed input bytes when the profile applies to `plan`, else None. */
  private def eligible(plan: LogicalPlan): Option[BigInt] =
    if (plan.isStreaming) None else inputBytes(plan, BigInt(conf.autoBroadcastJoinThreshold))

  /** Summed leaf sizes of `plan` and its subquery plans; None as soon as a
    * leaf has no known size, an `observe()` node is met, or the sum passes
    * `limit` — and None for a plan with no shuffle operator or subquery. */
  private def inputBytes(plan: LogicalPlan, limit: BigInt): Option[BigInt] = {
    var total = BigInt(0)
    var ok = true
    var wide = false
    def add(b: BigInt): Unit = { total += b; ok = total <= limit }
    def walk(p: LogicalPlan): Unit = if (ok) {
      p match {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => add(fs.sizeInBytes)
          case _ => ok = false
        }
        case l @ (_: LocalRelation | _: Range | _: OneRowRelation) => add(l.stats.sizeInBytes)
        case _: LeafNode | _: CollectMetrics => ok = false
        case _: Aggregate | _: Join | _: Window | _: Distinct | _: Deduplicate |
            _: RepartitionOperation | _: RebalancePartitions | _: GlobalLimit | _: Offset |
            _: Tail | _: SetOperation => wide = true
        case s: Sort => wide ||= s.global
        case _ =>
      }
      p.children.foreach(walk)
      p.expressions.foreach(_.foreach {
        case s: SubqueryExpression => wide = true; walk(s.plan)
        case _ =>
      })
    }
    walk(plan)
    if (ok && wide) Some(total) else None
  }
}

/** Wraps the planner's root ([[SmallInputRoot]]) and plans [[SmallInput]]
  * nodes: the subtree is planned and prepared under the profile's conf. At
  * the root of a collected query the subtree keeps the `ReturnAnswer`
  * marker, so limits still plan as `CollectLimit` / `TakeOrderedAndProject`;
  * under a write command the rewritten command plans as usual and reaches
  * the node through its query. Inside the profile AQE is off, so nothing is
  * wrapped twice. */
case class SmallInputStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => SmallInputRoot(root) match {
      case s: SmallInput => SmallInputExec.plan(session, s, ReturnAnswer(s.child)) :: Nil
      case wrapped if wrapped ne root => planLater(wrapped) :: Nil
      case _ => Nil
    }
    case s: SmallInput => SmallInputExec.plan(session, s, s.child) :: Nil
    case _ => Nil
  }
}

/** Runs a statically planned, prepared subtree. The subtree is an inner
  * child: preparation rules, AQE and tree walks of the outer plan see a
  * leaf, while `toString` and EXPLAIN still print the inner operators.
  * `planned` is the subtree before preparation (no exchanges), for readers
  * of post-strategy plans. */
case class SmallInputExec(executed: SparkPlan, inputBytes: BigInt)(val planned: SparkPlan)
    extends LeafExecNode {

  override def output: Seq[Attribute] = executed.output
  override def outputPartitioning: Partitioning = executed.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = executed.outputOrdering
  override def innerChildren: Seq[SparkPlan] = Seq(executed)
  override protected def otherCopyArgs: Seq[AnyRef] = planned :: Nil
  override protected def stringArgs: Iterator[Any] = Iterator(profile)

  /** What ran, for plan strings and EXPLAIN ANALYZE. */
  def profile: String =
    s"small-input profile: input $inputBytes bytes, adaptive off, 1 shuffle partition"

  override protected def doExecute(): RDD[InternalRow] = executed.execute()
  override def executeCollect(): Array[InternalRow] = executed.executeCollect()
  override def executeTake(n: Int): Array[InternalRow] = executed.executeTake(n)
  override def executeTail(n: Int): Array[InternalRow] = executed.executeTail(n)
  override def executeToIterator(): Iterator[InternalRow] = executed.executeToIterator()
}

object SmallInputExec {

  /** The conf the subtree plans under: the session's current conf with the
    * two profile settings changed. */
  private def profileConf(session: SparkSession): SQLConf = {
    val c = session.sessionState.conf.clone()
    c.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    c.setConf(SQLConf.SHUFFLE_PARTITIONS, 1)
    c
  }

  private[plans] def plan(session: SparkSession, node: SmallInput, root: LogicalPlan): SmallInputExec =
    SQLConf.withExistingConf(profileConf(session)) {
      val planned = session.sessionState.planner.plan(root).next()
      // a top-level query's preparation: the subquery preparation plus
      // exchange and subquery reuse
      val executed = ReuseExchangeAndSubquery(QueryExecution.prepareExecutedPlan(session, planned))
      SmallInputExec(executed, node.inputBytes)(planned)
    }
}
