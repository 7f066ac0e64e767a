package graft.sources

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6 "Overlap independent jobs"). The artifact-lifecycle gates
  * are job-count-bound, not compute-bound: 25-77 sub-second Spark jobs
  * per gate, eff_cores 1-5 of 32, and an 8-vs-32-core scaling ratio ≈ 1.0
  * — the wall is per-job scheduling latency, so running the legs strictly
  * sequentially leaves the session idle most of the time. Spark's
  * scheduler runs concurrent jobs FIFO; a second driver thread's tasks
  * back-fill the execution slots the first job's tail leaves free.
  * Results are unchanged because only actions with NO data dependency are
  * overlapped: trainings over the same read-only input, or table writes
  * into DISJOINT directories of a not-yet-published version subtree.
  *
  * Never overlap through this helper:
  *  - two writes into the SAME directory (FileOutputCommitter stages both
  *    under one `_temporary` subtree — they corrupt each other);
  *  - appends whose crash-ordering is contractual
  *    ([[graft.operators.Retrieval.upsertLexicon]]'s dl-before-postings);
  *  - anything reading an artifact version another thunk is publishing.
  *
  * Failure semantics: every thunk is awaited before anything is thrown,
  * so no sibling keeps submitting Spark jobs after the call returns. The
  * first failure in thunk order is rethrown with the others attached by
  * `addSuppressed`. A failed call leaves only junk in the unpublished
  * subtree (pruned at the next publish) — the same crash window a
  * sequential persist already has. */
object Par {

  private lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    }))

  /** Run both thunks concurrently (`a` on the caller thread) and return
    * both results. */
  def join[A, B](a: => A, b: => B): (A, B) = {
    val fb = submit(() => b)
    val ra = Try(a)
    val rb = settle(fb)
    rethrowFirst(Seq(ra, rb))
    (ra.get, rb.get)
  }

  /** Run all thunks concurrently (the first on the caller thread); return
    * every result in order. No thunks, no results. */
  def all[A](thunks: (() => A)*): Seq[A] =
    if (thunks.isEmpty) Seq.empty
    else {
      val tail = thunks.drop(1).map(submit)
      val outcomes = Try(thunks.head()) +: tail.map(settle)
      rethrowFirst(outcomes)
      outcomes.map(_.get)
    }

  private def settle[A](f: Future[A]): Try[A] =
    Await.ready(f, Duration.Inf).value.get

  private def rethrowFirst(outcomes: Seq[Try[_]]): Unit =
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed) // self-suppression throws
        throw first
      case _ => ()
    }

  private def submit[A](t: () => A): Future[A] = {
    // a worker thread needs the caller's session as ITS thread-local
    // active session (Dataset/encoder construction inside the thunk
    // resolves SparkSession.active)
    val sess = org.apache.spark.sql.SparkSession.getActiveSession
    Future {
      sess.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      t()
    }(ec)
  }
}
