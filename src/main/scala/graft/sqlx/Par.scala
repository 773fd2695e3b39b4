package graft.sqlx

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Submit independent Spark actions from a small thread pool so a later
  * job's tasks back-fill executor cores freed by an earlier job's tail
  * (optimization-guide §2.6: actions are only sequential because driver
  * code calls them sequentially). Use ONLY for actions with no
  * happens-before edge — same-store mutations keep their program order.
  *
  * Failure contract (round-18, closing the round-17 advisory): EVERY task
  * is awaited to termination before the first failure rethrows. Rethrowing
  * at the first failed Await — the old behavior — returned control to the
  * caller while sibling overwrite jobs were still in flight; a retrying
  * writer could then race those zombies into the same directories. Do not
  * nest Par.run inside a Par.run task: the shared global pool could starve
  * on a small machine. */
object Par {
  def run[A](tasks: (() => A)*): Seq[A] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = tasks.map(t => Future(t()))
    val rs = fs.map(f => Try(Await.result(f, Duration.Inf)))
    rs.collectFirst { case Failure(e) => throw e }
    rs.map(_.get)
  }
}
