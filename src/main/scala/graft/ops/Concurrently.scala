package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Runs independent driver-side thunks, each submitting its own Spark
  * jobs, at the same time, so the cluster interleaves their stages
  * instead of idling between one thunk's driver round-trips. Returns
  * their results in order and rethrows the first failure as thrown.
  *
  * Each thunk runs on a thread created for this call. Spark's local
  * properties (job tags and groups, scheduler pool) and the active
  * session are inheritable thread-locals, copied when a thread is
  * created: a shared pool's threads keep those of whichever call first
  * created them, so their jobs would escape the caller's job tag.
  */
object Concurrently {
  def apply[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    try thunks
      .map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      .map { f =>
        try f.get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    finally pool.shutdown()
  }
}
