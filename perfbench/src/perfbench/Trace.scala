package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are `System.nanoTime` values; `key` is the
  * day / shard / batch the span belongs to. */
final case class Span(id: Long, name: String, parent: Long, key: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one job group (= one span id). */
final class Counts {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val taskNanos = new LongAdder
  val inputRecords = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  def +=(o: Counts): Unit = {
    jobs.add(o.jobs.sum); tasks.add(o.tasks.sum); taskNanos.add(o.taskNanos.sum)
    inputRecords.add(o.inputRecords.sum); shuffleBytes.add(o.shuffleBytes.sum)
    spillBytes.add(o.spillBytes.sum)
  }
}

/** Counts Spark jobs and task metrics per job group. Job groups are
  * thread-local properties that Spark copies into threads created while
  * they are set, so work launched from a suite's per-table pool lands in
  * the group of the span that launched it. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val byGroup = new ConcurrentHashMap[String, Counts]
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counts(g).jobs.increment()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    c.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.taskNanos.add(m.executorRunTime * 1000000L)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has been seen ending (bounded, so a lost event cannot hang a run). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** In-memory span recorder. Each span sets the Spark job group to its id
  * while its body runs, so the listener attributes jobs to the innermost
  * span. Disabled tracers run the body and record nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setJobGroup(s"span-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
        spans.synchronized(spans += Span(id, name, parent, key, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def close(): Unit = if (enabled) {
    listener.drain()
    sc.removeSparkListener(listener)
  }

  /** Counts of the span's own jobs plus those of every span below it. */
  def inclusive(s: Span): Counts = {
    val kids = all.groupBy(_.parent)
    val acc = new Counts
    def walk(x: Span): Unit = {
      Option(listener.byGroup.get(s"span-${x.id}")).foreach(acc += _)
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    acc
  }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.end - s.start) - covered) / 1e9
  }

  /** The trace document: every span with self time and inclusive Spark
    * counts, plus the per-group counts of untraced work. */
  def toJson(extra: Seq[(String, String)]): String = {
    val ss = all.sortBy(_.start)
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    val rows = ss.map { s =>
      val c = inclusive(s)
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "key" -> Json.str(s.key),
        "start_s" -> Json.num((s.start - t0) / 1e9),
        "end_s" -> Json.num((s.end - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)),
        "jobs" -> c.jobs.sum.toString, "tasks" -> c.tasks.sum.toString,
        "task_s" -> Json.num(c.taskNanos.sum / 1e9),
        "input_records" -> c.inputRecords.sum.toString,
        "shuffle_bytes" -> c.shuffleBytes.sum.toString,
        "spill_bytes" -> c.spillBytes.sum.toString))
    }
    val groups = listener.byGroup.asScala.toSeq.sortBy(_._1).map { case (g, c) =>
      (if (g.isEmpty) "untraced" else g) -> Json.obj(Seq("jobs" -> c.jobs.sum.toString,
        "tasks" -> c.tasks.sum.toString,
        "task_s" -> Json.num(c.taskNanos.sum / 1e9)))
    }
    Json.obj(extra ++ Seq("spans" -> Json.arr(rows), "groups" -> Json.obj(groups)))
  }
}
