package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark process. One invocation runs one workload:
  *
  *   --workload <dq_gate|curate|stream_gate> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--trace-out <file>]
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
  * operations untraced and traced in lock step, checks that both produce
  * the same results, and prints the per-layer metrics. The last stdout line is the
  * result JSON. `--generate <dir> --units <n>` instead writes tiny inputs
  * and their ground truth for the smoke test.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, traceOut: Option[Path], generate: Option[Path], units: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(req("workload"), req("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("work", "perfbench-work")),
      m.get("trace-out").map(Paths.get(_)), m.get("generate").map(Paths.get(_)),
      m.getOrElse("units", "3").toInt)
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' — one of ${Workload.names.mkString(", ")}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    a.generate match {
      case Some(dir) => Generate.write(a.workload, a.seed, a.units, dir)
      case None =>
        val code = try run(a, cpus) catch {
          case e: Throwable =>
            e.printStackTrace()
            1
        }
        System.exit(code)
    }
  }

  final case class Timed(seconds: Double, r: OpResult)

  final case class Pass(ops: Seq[Timed], gen: Double, failed: Map[Int, Seq[String]])

  /** Runs operations `from, from + 1, ...` on every workload in lock step
    * (the order alternates between operations) until the first workload's
    * summed operation time reaches `budget` seconds and at least `minOps`
    * ran. `early` holds mismatches of earlier, untimed operations; they
    * count against the first timed one. */
  private def loop(ws: Seq[(Workload, Tracer)], from: Int, budget: Double, minOps: Int,
                   early: Seq[Seq[String]]): Seq[Pass] = {
    val out = ws.map(_ => mutable.ArrayBuffer.empty[Timed])
    val failed = ws.map(_ => mutable.Map.empty[Int, Seq[String]])
    early.zip(failed).foreach { case (ms, f) => if (ms.nonEmpty) f(from) = ms }
    val gen = Array.fill(ws.size)(0.0)
    var i = from
    while (out.head.map(_.seconds).sum < budget || i - from < minOps) {
      val order = if (i % 2 == 0) ws.indices else ws.indices.reverse
      order.foreach { j =>
        val (w, t) = ws(j)
        val g0 = System.nanoTime()
        w.prepare(i)
        gen(j) += (System.nanoTime() - g0) / 1e9
        val t0 = System.nanoTime()
        val r = try w.run(i, t) catch {
          case e: Exception =>
            OpResult(0L, s"error: ${e.getClass.getName}", Seq(s"threw ${e.getMessage}"))
        }
        out(j) += Timed((System.nanoTime() - t0) / 1e9, r)
        if (r.mismatches.nonEmpty) failed(j)(i) = failed(j).getOrElse(i, Nil) ++ r.mismatches
      }
      i += 1
    }
    ws.indices.map { j =>
      ws(j)._1.finish().foreach { case (k, msg) =>
        val at = math.max(k, from)
        failed(j)(at) = failed(j).getOrElse(at, Nil) :+ msg
      }
      Pass(out(j).toSeq, gen(j), failed(j).toMap)
    }
  }

  private final case class SetUp(seconds: Double, gen: Double, mismatches: Seq[Seq[String]])

  /** Set-up: process start to the first timed operation — session start,
    * extension registration and a warm-up pass: operations
    * `0 until warmUpOps` of each measured workload, untimed, on its own
    * state, so the timed operations that follow bind against a non-empty
    * result store and curate against a non-empty fingerprint history.
    * Input generation is excluded and returned separately, with the
    * warm-up's mismatches per workload. */
  private def warmUp(spark: SparkSession, jvmStart: Long, sessionAt: Long,
                     ws: Seq[Workload]): SetUp = {
    val untraced = new Tracer(spark.sparkContext, false)
    var gen = 0.0
    val mismatches = ws.map { w =>
      (0 until w.warmUpOps).flatMap { i =>
        val g0 = System.nanoTime()
        w.prepare(i)
        gen += (System.nanoTime() - g0) / 1e9
        val r = try w.run(i, untraced) catch {
          case e: Exception => OpResult(0L, "", Seq(s"threw ${e.getMessage}"))
        }
        r.mismatches.map(m => s"warm-up ${w.opName} $i: $m")
      }
    }
    val secs = (System.currentTimeMillis() - jvmStart) / 1e3 - gen
    System.err.println(f"perfbench set-up: $secs%.3f s, session ready after " +
      f"${(sessionAt - jvmStart) / 1e3}%.3f s")
    SetUp(secs, gen, mismatches)
  }

  private def envJson(a: Args, spark: SparkSession, cpus: Int, other: Double): Seq[(String, String)] = Seq(
    "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
    "nproc" -> cpus.toString, "master" -> Json.str(spark.sparkContext.master),
    "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
    "spark_version" -> Json.str(spark.version),
    "java_version" -> Json.str(System.getProperty("java.version")),
    "other_cpu_share" -> Json.num(other),
    // Same threshold as the engine's own bench harness.
    "contended" -> (other > 0.25).toString)

  private def metric(name: String, v: Double, unit: String): (String, String) =
    name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  private def run(a: Args, cpus: Int): Int = {
    Files2.deleteTree(a.work)
    Files.createDirectories(a.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.local(cpus)
    val sessionAt = System.currentTimeMillis()
    val sc = spark.sparkContext
    if (!a.trace) {
      val w = Workload(a.workload, spark, a.work.resolve("run"), a.seed, Scale.full)
      val (setup, Seq(Pass(ops, gen, failed)), snap0, liveHeap) = try {
        w.begin(false)
        val setup = warmUp(spark, jvmStart, sessionAt, Seq(w))
        val snap0 = RunEnv.snap()
        val passes = loop(Seq(w -> new Tracer(sc, false)), w.warmUpOps, a.seconds, w.minOps,
          setup.mismatches)
        // Before the workload lets go of its state (stream queries).
        (setup, passes, snap0, RunEnv.liveHeapMb())
      } finally w.close()
      val other = RunEnv.otherShare(snap0, RunEnv.snap())
      val secs = ops.map(_.seconds)
      val items = ops.map(_.r.items).sum
      val p50 = Stats.pct(secs, 0.5)
      val p90 = Stats.pct(secs, 0.9)
      val ratio = w.bytesOutPerByteIn
      val rss = RunEnv.peakRssMb()
      val env = envJson(a, spark, cpus, other)
      println("perfbench-env " + Json.obj(env))
      failed.toSeq.sortBy(_._1).foreach { case (i, ms) =>
        println(s"perfbench-mismatch ${w.opName} $i: ${ms.mkString(" | ")}")
      }
      // The same figures under the names the workload documentation uses.
      val prefix = a.workload match {
        case "dq_gate" => "dq.day"; case "curate" => "curate.shard"; case _ => "stream.batch"
      }
      val rate = a.workload match {
        case "dq_gate" => "dq.rows_per_s"; case "curate" => "curate.docs_per_s"
        case _ => "stream.events_per_s"
      }
      Seq(
        f"$prefix%s_p50_s = $p50%.6f s (n=${secs.size}%d ${w.opName}%ss)",
        f"$prefix%s_p90_s = $p90%.6f s (n=${secs.size}%d ${w.opName}%ss)",
        f"$rate%s = ${items / secs.sum}%.3f ${w.itemName}%s/s (${items / secs.size}%d ${w.itemName}%s per ${w.opName}%s)",
        f"${a.workload}%s.bytes_out_per_byte_in = $ratio%.6f",
        s"${w.opName}_times_s = ${secs.map(x => f"$x%.3f").mkString(" ")}",
        f"setup_s = ${setup.seconds}%.6f s",
        f"input_generation_s = ${gen + setup.gen}%.3f s (not gated)",
        f"peak_rss_mb = $rss%.1f MB",
        f"live_heap_mb = $liveHeap%.1f MB (heap used after a full GC at the end of the run)",
        f"failed_op_ratio = ${failed.size.toDouble / ops.size}%.6f (${failed.size}%d of ${ops.size}%d)",
        f"other_cpu_share = $other%.4f${if (other > 0.25) " (contended)" else ""}%s"
      ).foreach(l => println("perfbench " + l))
      println(Json.obj(Seq(
        "correct" -> failed.isEmpty.toString,
        "attempted" -> ops.size.toString,
        "failed" -> failed.size.toString,
        "metrics" -> Json.obj(Seq(
          metric("op_p50_s", p50, "s"),
          metric("op_p90_s", p90, "s"),
          metric("items_per_s", items / secs.sum, "1/s"),
          metric("bytes_out_per_byte_in", ratio, "ratio"),
          metric("setup_s", setup.seconds, "s"),
          metric("peak_rss_mb", rss, "MB"),
          metric("live_heap_mb", liveHeap, "MB"))))))
    } else {
      // The same operations untraced and traced, each on its own empty
      // state with its own warm-up, in lock step so both see the same JIT
      // and cache warmth. The tracer starts with the timed operations.
      val wa = Workload(a.workload, spark, a.work.resolve("untraced"), a.seed, Scale.full)
      val wb = Workload(a.workload, spark, a.work.resolve("traced"), a.seed, Scale.full)
      var tracer: Tracer = null
      val (snap0, Seq(Pass(plain, _, failA), Pass(traced, _, failB))) = try {
        wa.begin(false)
        wb.begin(true)
        val setup = warmUp(spark, jvmStart, sessionAt, Seq(wa, wb))
        val snap0 = RunEnv.snap()
        tracer = new Tracer(sc, true)
        (snap0, loop(Seq(wa -> new Tracer(sc, false), wb -> tracer), wa.warmUpOps,
          a.seconds / 2, math.max(1, wa.minOps / 2), setup.mismatches))
      } finally { wa.close(); wb.close() }
      tracer.close()
      val timed = wb.warmUpOps until wb.warmUpOps + traced.size
      val digestA = plain.map(_.r.digest) :+ wa.finalDigest
      val digestB = traced.map(_.r.digest) :+ wb.finalDigest
      val differ = digestA.indices.filter(i => digestA(i) != digestB(i))
      differ.foreach(i => println(s"perfbench-trace-differs op ${timed.start + i}:\n  untraced ${digestA(i)}\n  traced   ${digestB(i)}"))
      val overhead = Stats.median(traced.map(_.seconds)) - Stats.median(plain.map(_.seconds))
      val layers = wb.perLayer(tracer, timed)
      val other = RunEnv.otherShare(snap0, RunEnv.snap())
      val env = envJson(a, spark, cpus, other)
      println("perfbench-env " + Json.obj(env))
      (failA.toSeq ++ failB.toSeq).sortBy(_._1).foreach { case (i, ms) =>
        println(s"perfbench-mismatch ${wb.opName} $i: ${ms.mkString(" | ")}")
      }
      layers.foreach { case (k, v) => println(f"perfbench $k%s = $v%.6f") }
      println(f"perfbench trace.overhead_s = $overhead%.6f s per ${wb.opName}%s " +
        f"(traced p50 minus untraced p50, n=${traced.size}%d)")
      a.traceOut.foreach { p =>
        Option(p.getParent).foreach(Files.createDirectories(_))
        Files.writeString(p, tracer.toJson(env ++ Seq(
          "ops" -> traced.size.toString,
          "untraced_op_s" -> Json.arr(plain.map(x => Json.num(x.seconds))),
          "traced_op_s" -> Json.arr(traced.map(x => Json.num(x.seconds))),
          "tracing_overhead_s" -> Json.num(overhead),
          "results_equal" -> differ.isEmpty.toString,
          "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }))) + "\n")
        println(s"perfbench trace written to $p")
      }
      // A difference in the end-of-run results belongs to the last operation.
      val failed = (failA.keySet ++ failB.keySet ++
        differ.map(i => timed(i.min(traced.size - 1)))).size
      val all = (Layers.names.map(_ -> 0.0).toMap ++ layers.toMap) + ("trace.overhead_s" -> overhead)
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> traced.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(Layers.names.map(n => metric(n, all(n), Layers.unit(n)))))))
    }
    spark.stop()
    0
  }
}

/** Every per-layer metric, in the order `BENCHMARK.json` lists them. A
  * traced run reports all of them; layers its workload does not exercise
  * read 0. */
object Layers {
  val names: Seq[String] = Seq(
    "suite.bind_s", "suite.bind_jobs", "suite.bind_growth", "suite.run_s", "suite.run_jobs",
    "suite.run_task_s", "checks.input_rows", "sink.store_write_s", "sink.store_files",
    "sink.docs_s", "sink.notify_s", "pipeline.validate_raw_s", "pipeline.validate_raw_jobs",
    "pipeline.validate_transformed_s", "pipeline.validate_transformed_jobs", "etl.shuffle_mb",
    "util.dq.day", "util.suite.run", "util.pipeline.validate_transformed",
    "ext.funnel_s", "ext.funnel_jobs", "ext.funnel_task_s", "ext.funnel_shuffle_mb",
    "ext.funnel_spill_mb", "ext.curate_write_s", "sources.files_written",
    "sources.bytes_written", "ext.history_append_s", "ext.audit_s", "ext.pack_s",
    "ext.fuzzy_recall", "util.curate.shard", "util.ext.funnel",
    "stream.suite.planning_ms", "stream.suite.add_batch_ms", "stream.suite.wal_ms",
    "stream.suite.state_commit_ms", "stream.suite.state_rows", "stream.suite.state_mb",
    "stream.dedup.planning_ms", "stream.dedup.add_batch_ms", "stream.dedup.wal_ms",
    "stream.dedup.state_commit_ms", "stream.dedup.state_rows", "stream.dedup.state_mb",
    "stream.tasks_per_batch", "stream.suite.late_dropped", "stream.dedup.dups_dropped",
    "util.stream.batch", "trace.overhead_s")

  def unit(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("bytes_written")) "bytes"
    else if (n.startsWith("util.") || n.endsWith("growth") || n.endsWith("recall")) "ratio"
    else "count"
}
