package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. A failed operation keeps its
  * error and no timing. */
final class Op(val id: String, val name: String) {
  var error: Option[String] = None
  var startMs, endMs = 0L
  var wallS = 0.0
  val steps: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def ok: Boolean = error.isEmpty
}

/** The client side of the benchmark: spans, phase timers, the timed
  * operation wrapper and the closed loop. Everything it times is a call
  * into the program's public surface; nothing here changes the program. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  private val sc = spark.sparkContext
  val listener: Option[SpanListener] =
    if (trace) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer()
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer()
  var firstOpMs = 0L
  var loopS = 0.0
  var heapLiveMb = 0.0

  /** Runs `body` with `name` as the client thread's span. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanListener.Key)
    sc.setLocalProperty(SpanListener.Key, name)
    try body finally sc.setLocalProperty(SpanListener.Key, prev)
  }

  /** A set-up phase: timed, and billed to its own span. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(s"setup/$name")(body)
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** One timed operation. `body` is the timed part; `after` runs once the
    * clock has stopped (release, bookkeeping) and is never billed to the
    * operation's latency. */
  def op(name: String)(body: Op => Unit)(after: Op => Unit = _ => ()): Op = {
    val o = new Op(s"op${ops.size}", name)
    if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    o.startMs = System.currentTimeMillis()
    val (err, secs) = Harness.timed(span(o.id)(body(o)))
    o.endMs = System.currentTimeMillis()
    o.error = err
    o.wallS = secs
    try span(o.id)(after(o))
    catch { case e: Throwable => if (o.ok) o.error = Some(Harness.message(e)) }
    ops += o
    o
  }

  /** A timed sub-step of an operation, billed to its own child span. */
  def step[T](o: Op, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(s"${o.id}/$name")(body)
    finally o.steps(name) = o.steps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** The closed loop: issues round `next(i)` until `seconds` have passed,
    * each only after the previous one returned; a round that starts before
    * the deadline runs to its end. `next` returns false when the workload
    * has run out of input. */
  def loop(seconds: Double)(next: Int => Boolean): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline && next(i)) i += 1
    loopS = (System.nanoTime() - t0) / 1e9
    heapLiveMb = liveHeapMb()
  }

  /** Runs `tasks` on `threads` client threads; results in task order. */
  def parallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  /** Block-manager memory still held, in MB. */
  def residentMb: Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  /** Used heap after a full collection, in MB. The pause lets Spark's
    * ContextCleaner drop what the first collection made unreachable. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.gc()
    Thread.sleep(1000)
    mx.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-operation listener sums: every span of the operation (its own and
    * its steps'), the jobs its construction launched, and the part of its
    * wall-clock during which none of its jobs ran. */
  def opCounts(o: Op): Map[String, Any] = listener.fold(Map.empty[String, Any]) { l =>
    val all = new SpanListener.Acc
    var constructJobs = 0L
    l.spans.foreach { case (s, a) =>
      if (s == o.id || s.startsWith(o.id + "/")) all += a
      if (s == s"${o.id}/construct") constructJobs += a.jobs
    }
    all.toJson ++ Map("construct_jobs" -> constructJobs,
      "no_job_s" -> math.max(0.0, (o.endMs - o.startMs - all.busyMs(o.startMs, o.endMs)) / 1e3))
  }

  def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "ok" -> o.ok, "error" -> o.error.getOrElse(""),
    "wall_s" -> (if (o.ok) o.wallS else null), "steps" -> o.steps.toMap,
    "info" -> o.info.toMap, "exec" -> (if (o.ok) opCounts(o) else Map.empty))
}

object Harness {
  def message(e: Throwable): String = {
    val c = Option(e.getCause).getOrElse(e)
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}".take(300)
  }

  /** Runs `body`: (None, seconds) when it returns, (Some(error), 0) when it
    * throws. A failure never yields a timing. */
  def timed(body: => Unit): (Option[String], Double) = {
    val t0 = System.nanoTime()
    try { body; (None, (System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => (Some(message(e)), 0.0) }
  }
}
