package graft

import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The one way main code runs work on driver threads: a fixed pool of
  * `width` threads on which every submitted task runs, including tasks
  * that running tasks submit. [[DriverPool.apply]] returns only after
  * every task has ended. It then shuts the pool down, waits for its
  * threads to exit, and rethrows the first failure. So a caller never
  * returns while a sibling task is still writing, and no thread
  * outlives the call. A failed task does not stop the others. */
final class DriverPool private (width: Int) {
  private var exec: ExecutorService = null // created at the first submit
  private var pending = 0
  private var failure: Throwable = null

  /** Run `task` on the pool. */
  def submit(task: => Unit): Unit = synchronized {
    if (exec == null) exec = Executors.newFixedThreadPool(width, r => {
      val t = new Thread(r, s"graft-driver-${DriverPool.ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    pending += 1
    exec.execute(() => ended(try { task; null } catch { case t: Throwable => t }))
  }

  /** Submit `tasks`, and once the last of them has ended, call `andThen`
    * with whether all of them succeeded, on the thread that ended it
    * (at once, with `true`, when there are none). */
  def submitAll(tasks: Seq[() => Unit])(andThen: Boolean => Unit): Unit =
    if (tasks.isEmpty) andThen(true)
    else {
      val left = new AtomicInteger(tasks.size)
      val ok = new AtomicBoolean(true)
      tasks.foreach(t => submit {
        try t() catch { case e: Throwable => ok.set(false); throw e }
        finally if (left.decrementAndGet() == 0) andThen(ok.get)
      })
    }

  private def record(err: Throwable): Unit = synchronized {
    if (failure == null) failure = err
  }

  private def ended(err: Throwable): Unit = synchronized {
    record(err)
    pending -= 1
    if (pending == 0) notifyAll()
  }

  private def drain(): Unit = {
    try synchronized { while (pending > 0) wait() }
    catch { case e: InterruptedException => exec.shutdownNow(); throw e }
    if (exec != null) {
      exec.shutdown()
      exec.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    if (failure != null) throw failure
  }
}

object DriverPool {
  private val ids = new AtomicInteger()

  /** Run `body` with a pool of `width` threads, then wait for every task
    * it submitted (transitively) and rethrow the first failure, the
    * body's own included. */
  def apply[A](width: Int)(body: DriverPool => A): A = {
    require(width >= 1, s"DriverPool width must be >= 1, got $width")
    val pool = new DriverPool(width)
    val out = try Some(body(pool)) catch { case t: Throwable => pool.record(t); None }
    pool.drain()
    out.get
  }

  /** `items.map(f)` with up to `width` applications in flight, results in
    * input order. With width 1 or at most one item it runs on the
    * caller's thread and stops at the first failure. */
  def map[A, B](width: Int, items: Seq[A])(f: A => B): Seq[B] =
    if (width <= 1 || items.sizeIs <= 1) items.map(f)
    else {
      val out = new Array[Any](items.size)
      apply(math.min(width, items.size)) { pool =>
        items.iterator.zipWithIndex.foreach { case (a, i) => pool.submit(out(i) = f(a)) }
      }
      out.toSeq.asInstanceOf[Seq[B]]
    }
}
