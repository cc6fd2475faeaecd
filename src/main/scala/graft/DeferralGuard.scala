package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec

/** Static guard for the deferred-projection-into-join-loop codegen trap
  * (r16 verdict Next #1 — the class that cost three rounds: v16 in r13,
  * v18 and v17 in r15).
  *
  * The mechanism (measured, see the spark-codegen-traps memory and
  * `Similarity.scala`'s v17 gate): whole-stage codegen emits a child
  * Project's output variables lazily at FIRST USE. When a join's
  * keys/condition don't reference them, that first use moves inside the
  * join's per-match loop — so an expensive per-row kernel (PQ encode:
  * m·codebookSize·subDim multiplies; BPE encode: merge-table passes over
  * the text) silently evaluates once per MATCH instead of once per row.
  * At ≥ 1 expected matches per streamed row the deferred form is
  * strictly worse, superlinearly so as match multiplicity grows.
  *
  * [[hazards]] walks a physical plan and reports every occurrence of
  * that SHAPE: an expensive graft kernel inside a Project on the
  * STREAMED side of a multiplying join, with no pipeline breaker
  * (exchange / sort / aggregate / generate / expand / window — each of
  * which materializes or eagerly consumes its input row) between the
  * Project and the join, and the kernel's output not referenced by the
  * join's keys or condition (key expressions are evaluated per row
  * before the probe, so they can't defer).
  *
  * A flagged shape is not automatically a bug — deferral WINS while
  * expected matches per streamed row stay under one (the production
  * regime of [[graft.pipeline.Similarity.ivfPqTopK]]'s gated probe,
  * where nCells ≫ |queries|·nProbe). The contract, enforced by
  * DeferralGuardSpec and the [[ExplainAll]] main: every registered
  * query's plan must be hazard-free, and any deliberate deferral must be
  * justified by its multiplicity gate's own parameters (asserted where
  * it is introduced, not discovered in a bench round).
  */
object DeferralGuard {

  /** One flagged shape: `column` (the Project output holding the kernel)
    * evaluates inside `join`'s match loop.
    */
  case class Hazard(join: String, joinType: String, column: String,
      kernels: Seq[String]) {
    override def toString: String =
      s"$column [${kernels.mkString(",")}] defers into $join ($joinType)"
  }

  /** The per-row kernels whose deferred evaluation is worth flagging —
    * everything O(dim) / O(text length) or worse per call. Matched by
    * `prettyName`, the stable identity every graft Catalyst expression
    * declares. Cheap arithmetic/string built-ins are deliberately out:
    * flagging them would bury the 16k-multiply class the guard exists
    * for.
    */
  private[graft] val ExpensiveKernels: Set[String] = Set(
    "graft_pq_encode", "graft_pq_adc_micro", "graft_pq_adc_all_micro",
    "graft_bpe_encode", "graft_bpe_encode_chars",
    "graft_minhash", "graft_minhash_hashes", "graft_shingle_hashes",
    "graft_shingle_strings", "graft_simhash64", "graft_signed_project",
    "graft_term_counts", "graft_rolling_fingerprint",
    "graft_sorted_intersect_count",
    "graft_cosine", "graft_cosine_pre", "graft_dot", "graft_dot_d",
    "graft_dot_fd", "graft_vec_norm",
    "graft_nearest_centroid", "graft_nearest_centroid_2l",
    "graft_nearest_cells", "graft_nearest_cells_2l")

  private def expensiveIn(e: Expression): Seq[String] =
    e.collect {
      case ex: Expression if ExpensiveKernels.contains(ex.prettyName) =>
        ex.prettyName
    }.distinct

  // semi/anti/existence joins emit at most one row per streamed row, and
  // codegen places non-condition projections AFTER the probe loop — no
  // multiplication, no hazard
  private def multiplies(jt: JoinType): Boolean = jt match {
    case LeftSemi | LeftAnti | _: ExistenceJoin => false
    case _ => true
  }

  /** True when `p` provably yields AT MOST ONE row per distinct value of
    * `keys`: its output comes from an aggregate (groupBy / dropDuplicates)
    * whose grouping attributes are a subset of the join keys. An equi-join
    * against such a side multiplies nothing — a deferred streamed-side
    * projection evaluates at most once per row, exactly like the eager
    * form — so flagging it would be noise (first observed on
    * t20_boilerplate's LEFT join against a groupBy(doc_id) rollup).
    * Conservative on anything it can't see through: unknown shapes
    * return false and the join stays flagged.
    */
  private def atMostOnePerKey(p: SparkPlan, keys: AttributeSet): Boolean =
    p match {
      case a: AdaptiveSparkPlanExec => atMostOnePerKey(a.executedPlan, keys)
      case q: QueryStageExec => atMostOnePerKey(q.plan, keys)
      case e: Exchange => atMostOnePerKey(e.child, keys)
      case w: WholeStageCodegenExec => atMostOnePerKey(w.child, keys)
      case i: InputAdapter => atMostOnePerKey(i.child, keys)
      case s: SortExec => atMostOnePerKey(s.child, keys)
      case f: FilterExec => atMostOnePerKey(f.child, keys)
      case pr: ProjectExec =>
        // map each key through the projection: pass-through attributes
        // and attribute-renaming aliases preserve the key identity;
        // anything computed breaks the uniqueness argument
        val mapped = keys.toSeq.flatMap { k =>
          pr.projectList.collectFirst {
            case al: Alias if al.exprId == k.exprId &&
              al.child.isInstanceOf[Attribute] =>
              al.child.asInstanceOf[Attribute]
            case at: Attribute if at.exprId == k.exprId => at
          }
        }
        mapped.size == keys.size &&
          atMostOnePerKey(pr.child, AttributeSet(mapped))
      case ag: BaseAggregateExec =>
        AttributeSet(ag.groupingExpressions.map(_.toAttribute))
          .subsetOf(keys)
      case _ => false
    }

  /** (display name, join type, streamed child, key/condition refs) — one
    * entry per streamed side whose match loop can multiply a deferred
    * projection. Build sides are excluded: they sit behind a broadcast
    * or shuffle exchange and materialize into the hash relation row by
    * row — evaluation there is eager by construction. Sides whose
    * OPPOSITE relation is provably unique on the join keys
    * ([[atMostOnePerKey]]) are excluded too.
    */
  private def joinInfo(p: SparkPlan)
      : Seq[(String, JoinType, SparkPlan, AttributeSet)] = {
    def hashSides(name: String, jt: JoinType, buildLeft: Boolean,
        left: SparkPlan, right: SparkPlan, leftKeys: Seq[Expression],
        rightKeys: Seq[Expression], cond: Option[Expression]) = {
      val refs = AttributeSet(leftKeys ++ rightKeys ++ cond.toSeq)
      val (streamed, build, buildKeys) =
        if (buildLeft) (right, left, leftKeys) else (left, right, rightKeys)
      if (atMostOnePerKey(build, AttributeSet(buildKeys))) Seq.empty
      else Seq((name, jt, streamed, refs))
    }
    p match {
      case j: BroadcastHashJoinExec if multiplies(j.joinType) =>
        hashSides(j.nodeName, j.joinType, j.buildSide == BuildLeft,
          j.left, j.right, j.leftKeys, j.rightKeys, j.condition)
      case j: ShuffledHashJoinExec if multiplies(j.joinType) =>
        hashSides(j.nodeName, j.joinType, j.buildSide == BuildLeft,
          j.left, j.right, j.leftKeys, j.rightKeys, j.condition)
      case j: SortMergeJoinExec if multiplies(j.joinType) =>
        val refs = AttributeSet(j.leftKeys ++ j.rightKeys ++ j.condition.toSeq)
        Seq((j.left, j.right, j.rightKeys), (j.right, j.left, j.leftKeys))
          .collect {
            case (streamed, opp, oppKeys)
                if !atMostOnePerKey(opp, AttributeSet(oppKeys)) =>
              (j.nodeName, j.joinType, streamed, refs)
          }
      case j: BroadcastNestedLoopJoinExec if multiplies(j.joinType) =>
        val streamed = if (j.buildSide == BuildLeft) j.right else j.left
        Seq((j.nodeName, j.joinType, streamed,
          AttributeSet(j.condition.toSeq)))
      case j: CartesianProductExec =>
        val inner: JoinType = org.apache.spark.sql.catalyst.plans.Inner
        Seq((j.nodeName, inner, j.left, AttributeSet(j.condition.toSeq)),
          (j.nodeName, inner, j.right, AttributeSet(j.condition.toSeq)))
      case _ => Seq.empty
    }
  }

  /** All hazards in `plan` (post-AQE when the plan has executed). */
  def hazards(plan: SparkPlan): Seq[Hazard] = {
    val buf = scala.collection.mutable.ArrayBuffer[Hazard]()
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case o => o.children
    }
    // scan one streamed-side pipeline region: stop at any operator that
    // materializes or eagerly consumes its input rows
    def scanRegion(p: SparkPlan, join: String, jt: JoinType,
        refs: AttributeSet): Unit = p match {
      case _: Exchange | _: SortExec | _: BaseAggregateExec |
           _: GenerateExec | _: ExpandExec | _: WindowExec => ()
      case a: AdaptiveSparkPlanExec => scanRegion(a.executedPlan, join, jt, refs)
      case q: QueryStageExec => scanRegion(q.plan, join, jt, refs)
      case w: WholeStageCodegenExec => scanRegion(w.child, join, jt, refs)
      case i: InputAdapter => scanRegion(i.child, join, jt, refs)
      case pr: ProjectExec =>
        pr.projectList.foreach { ne =>
          val ks = expensiveIn(ne)
          if (ks.nonEmpty && !refs.contains(ne.toAttribute))
            buf += Hazard(join, jt.toString, ne.name, ks)
        }
        pr.children.foreach(scanRegion(_, join, jt, refs))
      case j if joinInfo(j).nonEmpty =>
        // a nested join continues the pipeline: rows from ITS streamed
        // side flow through both loops, so keep scanning there (its
        // build side sits behind an exchange breaker regardless)
        joinInfo(j).foreach { case (_, _, s, _) =>
          scanRegion(s, join, jt, refs)
        }
      case o => o.children.foreach(scanRegion(_, join, jt, refs))
    }
    def walk(p: SparkPlan): Unit = {
      joinInfo(p).foreach { case (n, jt, streamed, refs) =>
        scanRegion(streamed, n, jt, refs)
      }
      kids(p).foreach(walk)
    }
    walk(plan)
    buf.distinct.toSeq
  }

  def hazards(df: DataFrame): Seq[Hazard] =
    hazards(df.queryExecution.executedPlan)

  /** All hazards in the executed plans of `runs`. */
  def executedHazards(runs: Seq[(String, QueryExecution)]): Seq[Hazard] =
    runs.flatMap { case (_, qe) => hazards(qe.executedPlan) }.distinct

  /** Hazards in every plan one registered query runs
    * ([[Executions.ofQuery]]): the checkpoints its operators ran while it
    * was built (each a pipeline breaker) and the query's own executed plan.
    */
  def queryHazards(spark: SparkSession,
      query: (SparkSession, String) => DataFrame, sfDir: String): Seq[Hazard] =
    executedHazards(Executions.ofQuery(spark, query, sfDir))
}
