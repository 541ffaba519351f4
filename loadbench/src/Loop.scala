package loadbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Closed-loop clients: each client sends its next op only after the
  * previous one completed. */
object Loop {
  /** Ops issued and failed over the whole run, every phase included. */
  val attempted = new AtomicLong
  val failed = new AtomicLong

  def count(op: Op): Op = {
    attempted.incrementAndGet()
    if (!op.ok) failed.incrementAndGet()
    op
  }

  /** Run `clients` threads until `deadlineNs` (System.nanoTime) or until
    * `done()`; client `c` calls `step(c)` repeatedly. Returns every op, in
    * completion order. */
  def closed(clients: Int, deadlineNs: Long, done: () => Boolean = () => false)
            (step: Int => Op): Seq[Op] = {
    val out = new ConcurrentLinkedQueue[Op]()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        try while (System.nanoTime() < deadlineNs && !done() && err.get == null)
          out.add(count(step(c)))
        catch { case e: Throwable => err.compareAndSet(null, e) }
      }, s"loadbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (err.get != null) throw err.get
    out.asScala.toSeq
  }

  /** Run one timed window: `seconds` of closed-loop load, with the JVM
    * counters read around it. */
  def window(clients: Int, seconds: Double)
            (step: Int => Op): (Long, Long, Seq[Op], Map[String, Any]) = {
    val probe = new Jvm.Probe
    val t0 = Clock.now()
    val ops = closed(clients, System.nanoTime() + (seconds * 1e9).toLong)(step)
    val t1 = Clock.now()
    (t0, t1, ops, probe.delta())
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
}
