package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, plus the plan-inspection and
  * conf helpers the plan-shape specs use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4, 4)

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Every node of `p` (subqueries included) matching `pf`. Walks
    * through AQE: QueryStageExec is a leaf, so the finalized stage tree
    * is reachable only through `.plan` (and ReusedExchange through
    * `.child`). Execute the DataFrame first to inspect its final plan. */
  def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
      case q: QueryStageExec => collectAll(q.plan)(pf)
      case r: ReusedExchangeExec => collectAll(r.child)(pf)
      case _ => p.children.flatMap(c => collectAll(c)(pf))
    }
    (pf.lift(p).toSeq ++ below) ++ p.subqueries.flatMap(s => collectAll(s)(pf))
  }

  /** Runs `body` with the given session confs set, restoring (or
    * unsetting) each afterwards. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
