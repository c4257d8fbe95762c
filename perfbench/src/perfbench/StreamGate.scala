package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.checks.{AggCheck, BetweenCheck, InSetCheck, NotNullCheck, RowCountCheck}
import graft.model.ValidationResult
import graft.stream.{StreamingDedup, StreamingSuite}

final case class Event(ts: Timestamp, user_id: Option[Long], event_type: String,
                       value: Double, text: String)

/** Generator of event micro-batches: Zipf-skewed users, redelivered
  * duplicates, out-of-order events inside the watermark and late events
  * beyond it. Batch `k` covers event time `[T0 + kΔ, T0 + (k+1)Δ)` and
  * always holds an event at its last millisecond, so the watermark in
  * force while batch `k` runs is known exactly: `T0 + kΔ − 1 − delay`. */
object StreamGen {
  val T0: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val StepMs = 20000L
  val WindowMs = 60000L
  val DelayMs = 120000L
  val Window = "1 minute"
  val Delay = "2 minutes"
  val types: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  private val Users = 10000

  /** Expected per-window verdict inputs: rows, null users, bad types, bad
    * values — and the last batch that contributed to the window. */
  final case class WindowTruth(n: Long, nullUser: Long, badType: Long, badValue: Long,
                               lastBatch: Int)

  final case class Batch(index: Int, events: Seq[Event], late: Int, dups: Int)

  def watermark(k: Int): Long = if (k == 0) 0L else T0 + k * StepMs - 1 - DelayMs

  /** Zipf(1.1) user draw by inversion over a precomputed CDF. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def user(r: java.util.SplittableRandom): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    (if (i >= 0) i else -i - 1).min(Users - 1).toLong
  }

  private def fresh(seed: Long, k: Int, j: Int, tsMs: Long,
                    r: java.util.SplittableRandom): Event = {
    val id = k.toLong * 1000000L + j
    val u = r.nextDouble()
    Event(new Timestamp(tsMs),
      if (u < 0.01) None else Some(user(r)),
      if (u >= 0.01 && u < 0.02) "bogus" else types(r.nextInt(types.size)),
      if (u >= 0.02 && u < 0.03) 5000.0 + r.nextInt(1000) else r.nextInt(100000) / 100.0,
      s"""{"event_id":$id,"seed":$seed,"k":${r.nextInt(1000)}}""")
  }

  /** The batch's own events (no redeliveries): on-time, out-of-order and
    * late. Redeliveries of batch `k − 1` are added by [[batch]]. */
  private def own(seed: Long, k: Int, n: Int): (Seq[Event], Int) = {
    val r = Seeds.rng(seed, 31, k)
    val lo = T0 + k * StepMs
    val wm = watermark(k)
    var late = 0
    val evs = (0 until n).map { j =>
      val u = r.nextDouble()
      val ts =
        if (j == n - 1) lo + StepMs - 1
        else if (k >= 1 && u < 0.02) { late += 1; wm - WindowMs - r.nextInt(60000) }
        else if (u < 0.12) lo + r.nextInt(StepMs.toInt) - r.nextInt(60000)
        else lo + r.nextInt(StepMs.toInt)
      fresh(seed, k, j, ts, r)
    }
    (evs, late)
  }

  /** Batch `k`: its own events plus redeliveries of on-time events of batch
    * `k − 1` (still inside the dedup horizon, so each must be dropped). */
  def batch(seed: Long, k: Int, n: Int): Batch = {
    val (evs, late) = own(seed, k, n)
    if (k == 0) Batch(k, evs, late, 0)
    else {
      val r = Seeds.rng(seed, 32, k)
      val wm = watermark(k)
      val prev = own(seed, k - 1, n)._1.filter(_.ts.getTime > wm)
      val dups = (0 until n * 3 / 100).map(_ => prev(r.nextInt(prev.size))).distinct
      // Interleave the redeliveries at seeded positions.
      val out = mutable.ArrayBuffer.from(evs)
      dups.foreach(e => out.insert(r.nextInt(out.size + 1), e))
      Batch(k, out.toSeq, late, dups.size)
    }
  }

  def windowStart(tsMs: Long): Long = Math.floorDiv(tsMs, WindowMs) * WindowMs

  /** Folds batch `b` into the per-window truth (late events excluded). */
  def addTruth(acc: mutable.Map[Long, WindowTruth], b: Batch): Unit = {
    val wm = watermark(b.index)
    b.events.filter(e => windowStart(e.ts.getTime) + WindowMs > wm).foreach { e =>
      val w = windowStart(e.ts.getTime)
      val t = acc.getOrElse(w, WindowTruth(0, 0, 0, 0, 0))
      acc(w) = WindowTruth(t.n + 1,
        t.nullUser + (if (e.user_id.isEmpty) 1 else 0),
        t.badType + (if (types.contains(e.event_type)) 0 else 1),
        t.badValue + (if (e.value < 0.0 || e.value > 1000.0) 1 else 0),
        b.index)
    }
  }

  val checks: Seq[AggCheck] = Seq(RowCountCheck(), NotNullCheck("user_id"),
    InSetCheck("event_type", types), BetweenCheck("value", Some(0.0), Some(1000.0)))
}

/** Streaming validation, one micro-batch per operation: a closed-loop
  * feeder adds a batch, then waits until both queries — the fused windowed
  * suite and the exact dedup — have processed it. Each query reads its own
  * in-memory copy of the stream (a memory source discards data once one
  * reader commits it). */
final class StreamGate(spark: SparkSession, root: Path, seed: Long, scale: Scale)
    extends Workload {
  val name = "stream_gate"
  val opName = "batch"
  val itemName = "events"
  /** Batches are cheap next to a run's set-up: warm up on four (the
    * first batches of a query take paths later ones do not, and batch
    * time keeps falling while the JIT compiles them) and measure at least
    * ten. Most of the spread between runs is in whole-run speed, which
    * more batches per run did not reduce. */
  override val minOps = 10
  override val warmUpOps = 4

  private implicit val enc: Encoder[Event] = Encoders.product[Event]
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val suiteIn = MemoryStream[Event]
  private val dedupIn = MemoryStream[Event]
  private val batches = mutable.Map.empty[Int, StreamGen.Batch]
  private val truth = mutable.Map.empty[Long, StreamGen.WindowTruth]
  private val windows = new ConcurrentLinkedQueue[(Long, Seq[ValidationResult])]
  private val emitted = new AtomicLong
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]
  private var queries: Seq[StreamingQuery] = Nil
  private var listener: Option[StreamingQueryListener] = None
  private var eventsIn = 0L
  private var bytesIn = 0L
  private var lastBatch = -1
  private var emittedBeforeFlush = 0L
  /** Events the suite query left out of every window it emitted. */
  private var lateDropped = 0L
  /** Wall clock at the first timed batch: progress of earlier (warm-up)
    * triggers is left out of the per-batch figures. */
  private var timedFrom = Long.MaxValue
  /** Query names are unique among active queries; suffix them per run. */
  private val tag = root.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")

  override def begin(traced: Boolean): Unit = {
    if (traced) {
      val l = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { progress.add(e); () }
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      }
      spark.streams.addListener(l)
      listener = Some(l)
    }
    val ckpt = root.resolve("checkpoints")
    val suite = StreamingSuite.writer(suiteIn.toDF(), "ts", StreamGen.Window, StreamGen.Delay,
        StreamGen.checks, s"suite_$tag") { (ws, rs) => windows.add((ws.getTime, rs)); () }
      .option("checkpointLocation", ckpt.resolve("suite").toString).start()
    val dedup = StreamingDedup.exactDedupStream(dedupIn.toDF(), "ts", "text", StreamGen.Delay)
      .writeStream.queryName(s"dedup_$tag")
      .option("checkpointLocation", ckpt.resolve("dedup").toString)
      .foreachBatch { (df: DataFrame, _: Long) => emitted.addAndGet(df.count()); () }
      .start()
    queries = Seq(suite, dedup)
  }

  def prepare(i: Int): Unit = {
    val b = StreamGen.batch(seed, i, scale.batchEvents)
    batches(i) = b
    StreamGen.addTruth(truth, b)
    bytesIn += b.events.map(e => 32L + e.event_type.length + e.text.length).sum
  }

  def run(i: Int, t: Tracer): OpResult = {
    val b = batches(i)
    if (i == warmUpOps) timedFrom = System.currentTimeMillis()
    val before = emitted.get
    val k = f"batch-$i%06d"
    t.span("stream.batch", k) {
      t.span("stream.add_data", k) { suiteIn.addData(b.events); dedupIn.addData(b.events) }
      t.span("stream.suite_process", k)(queries(0).processAllAvailable())
      t.span("stream.dedup_process", k)(queries(1).processAllAvailable())
    }
    lastBatch = i
    eventsIn += b.events.size
    val out = emitted.get - before
    val want = b.events.size - b.late - b.dups
    val bad = if (out != want) Seq(s"dedup emitted $out want $want") else Nil
    OpResult(b.events.size.toLong, s"events=${b.events.size};dedup_out=$out", bad)
  }

  /** Two far-future events push the watermark past every real window, so
    * all of them are emitted and can be compared with the truth. */
  override def finish(): Seq[(Int, String)] = {
    if (queries.isEmpty) return Nil
    emittedBeforeFlush = emitted.get
    val flushAt = StreamGen.T0 + (lastBatch + 100) * StreamGen.StepMs
    Seq(0L, 1000L).foreach { d =>
      val e = Event(new Timestamp(flushAt + d), Some(1L), "view", 1.0, s"flush-$d")
      suiteIn.addData(e); dedupIn.addData(e)
      queries.foreach(_.processAllAvailable())
    }
    val got = windows.asScala.toSeq.filter(_._1 < flushAt - StreamGen.WindowMs)
    val bad = mutable.ArrayBuffer.empty[(Int, String)]
    if (got.map(_._1).distinct.size != got.size) bad += ((lastBatch, "a window was emitted twice"))
    val gotMap = got.toMap
    truth.toSeq.sortBy(_._1).foreach { case (w, want) =>
      gotMap.get(w) match {
        case None => bad += ((want.lastBatch, s"window $w not emitted"))
        case Some(rs) =>
          val m = rs.map(r => r.validationName -> r).toMap
          val ok = m("row_count_between").elementCount == want.n &&
            m("not_null:user_id").unexpectedCount == want.nullUser &&
            m("in_set:event_type").unexpectedCount == want.badType &&
            m("between:value").unexpectedCount == want.badValue
          if (!ok) bad += ((want.lastBatch, s"window $w: got ${rs.map(r =>
            s"${r.validationName}=${r.elementCount}/${r.unexpectedCount}")} want $want"))
      }
    }
    (gotMap.keySet -- truth.keySet).foreach(w => bad += ((lastBatch, s"unexpected window $w")))
    // The suite's late drops as the program counted them: events fed to
    // it minus the rows of every window it emitted.
    lateDropped = eventsIn - got.map { case (_, rs) =>
      rs.find(_.validationName == "row_count_between").map(_.elementCount).getOrElse(0L)
    }.sum
    val late = batches.values.map(_.late).sum
    if (lateDropped != late) bad += ((lastBatch, s"late drops $lateDropped want $late"))
    bad.toSeq
  }

  override def finalDigest: String = windows.asScala.toSeq.sortBy(_._1).map { case (w, rs) =>
    s"$w:" + rs.map(r => s"${r.validationName}=${r.status}/${r.elementCount}/${r.unexpectedCount}")
      .mkString(",")
  }.mkString(";")

  def bytesOutPerByteIn: Double =
    Files2.bytes(Files2.files(root.resolve("checkpoints"))).toDouble / math.max(1L, bytesIn)

  override def close(): Unit = {
    queries.foreach(q => try q.stop() catch { case _: Exception => () })
    listener.foreach(spark.streams.removeListener)
  }

  def perLayer(t: Tracer, ops: Seq[Int]): Seq[(String, Double)] = {
    val all = progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def of(name: String) = all.filter(_.name == s"${name}_$tag")
    def q(name: String) =
      of(name).filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= timedFrom)
    def dur(name: String, key: String): Double =
      Stats.median(q(name).map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    def state(name: String)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      Stats.median(q(name).map(p => p.stateOperators.map(f).sum))
    // Stream executions run each batch's jobs under the query's run id.
    val runIds = queries.map(_.runId.toString).toSet
    val streamGroups = t.listener.byGroup.asScala.filter { case (g, _) => runIds(g) }
    val tasks = streamGroups.values.map(_.tasks.sum).sum.toDouble
    val taskS = streamGroups.values.map(_.taskNanos.sum).sum / 1e9
    val batchWall = t.all.filter(_.name == "stream.batch").map(_.seconds).sum
    val cores = spark.sparkContext.defaultParallelism
    // Drop counts cover every batch, the warm-up's too.
    val dedupLate = of("dedup").map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    Seq("suite", "dedup").flatMap { n => Seq(
      s"stream.$n.planning_ms" -> dur(n, "queryPlanning"),
      s"stream.$n.add_batch_ms" -> dur(n, "addBatch"),
      s"stream.$n.wal_ms" -> dur(n, "walCommit"),
      s"stream.$n.state_commit_ms" -> state(n)(_.commitTimeMs.toDouble),
      s"stream.$n.state_rows" -> state(n)(_.numRowsTotal.toDouble),
      s"stream.$n.state_mb" -> state(n)(_.memoryUsedBytes / 1048576.0))
    } ++ Seq(
      "stream.tasks_per_batch" -> tasks / math.max(1, ops.size),
      "stream.suite.late_dropped" -> lateDropped.toDouble,
      "stream.dedup.dups_dropped" -> (eventsIn - dedupLate - emittedBeforeFlush).toDouble,
      "util.stream.batch" -> taskS / math.max(1e-9, batchWall * cores))
  }
}
