package graft.pipeline

import java.util.concurrent.Semaphore

import scala.util.control.NonFatal

/** Scheduler-policy layer reproducing the reference DAG's run
  * semantics (`dags/sky_safe_dag.py:18-33`): each task retries once
  * after a fixed delay (`retries=1, retry_delay=1min`), and runs of
  * the whole pipeline are serialized (`max_active_runs=1`) with
  * Airflow's ONE-SLOT backlog: ticks that fire while a run is active
  * collapse into a single pending run executed immediately after the
  * active one finishes (catchup=False keeps only the most recent
  * missed interval — a backlog never builds behind one slow run, but
  * the trailing run is not dropped either).
  *
  * Engine-agnostic by design: the policy wraps any `=> T` body, so it
  * composes with [[PipelineRunner.runOnce]] without the runner knowing
  * about retries. The sleeper is injected for deterministic tests.
  *
  * Only specs drive [[runSerialized]] and [[withRetry]]; they stay as
  * the paper's Airflow-parity run policy (ROADMAP direction 6).
  */
final class Orchestrator(
    retries: Int = 1,
    retryDelayMs: Long = 60000L,
    sleeper: Long => Unit = Thread.sleep) {
  require(retries >= 0 && retryDelayMs >= 0)

  // a Semaphore, NOT a ReentrantLock: the admission check must be
  // non-reentrant — a tick fired synchronously from inside the active
  // run (re-entrant scheduler callback) must be SKIPPED like any
  // other concurrent tick, but a ReentrantLock would admit it
  private val active = new Semaphore(1)

  /** Run `body`, retrying up to `retries` times after `retryDelayMs`
    * on failure — the reference's per-task retry policy. Throws the
    * LAST failure once attempts are exhausted. Only non-fatal task
    * failures are retried: interrupts (cancellation) and VM errors
    * propagate immediately.
    */
  def withRetry[T](taskId: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case NonFatal(e) =>
          attempt += 1
          if (attempt > retries) throw e
          sleeper(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // the one-slot backlog: all ticks blocked behind an active run
  // collapse into one trailing run (Airflow catchup=False keeps only
  // the most recent missed interval)
  private val pending = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** max_active_runs=1 with a one-slot backlog: if no run is active,
    * run `body` — then drain the pending slot (ticks that fired
    * mid-run) with trailing runs until it stays empty, returning the
    * LAST result. If a run is active, mark the slot and return None
    * without blocking (the active runner executes the trailing run).
    *
    * A tick that lands in the gap between the final drain check and
    * the release is executed by ITS caller (tryAcquire succeeds) — at
    * most one run is ever active, and no tick is silently lost.
    */
  def runSerialized[T](body: => T): Option[T] = {
    if (!active.tryAcquire()) {
      pending.set(true)
      return None
    }
    try {
      var last = body
      while (pending.getAndSet(false)) last = body
      Some(last)
    } finally active.release()
  }
}
