package graft.pipeline

import java.util.concurrent.{ExecutionException, FutureTask}

/** Wait-for-all fan-out for independent pipeline steps. */
private[graft] object Parallel {

  /** Run each task on its own fresh daemon thread and wait for all of
    * them. Fresh threads (not a pool) start with a copy of the caller's
    * Spark local properties (job group, description, scheduler pool),
    * which `SparkContext` keeps in an inheritable thread-local. Results
    * come back in input order. Failures surface only after every task has
    * finished: the first failure in input order is thrown with the later
    * ones attached as suppressed, so no step is still running when the
    * caller sees the error.
    */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    val futures = tasks.map { t =>
      val f = new FutureTask[T](() => t())
      val th = new Thread(f); th.setDaemon(true); th.start()
      f
    }
    val outcomes = futures.map { f =>
      try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
    }
    outcomes.collect { case Left(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => outcomes.collect { case Right(v) => v }
    }
  }
}
