package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Outcome of one timed operation (a day, a shard or a batch). `digest`
  * renders every result the operation produced, so a traced run can be
  * compared with an untraced one; `mismatches` lists ground-truth checks
  * that failed (empty when the output matches the plants). */
final case class OpResult(items: Long, digest: String, mismatches: Seq[String])

/** One workload of the benchmark. Inputs derive from `seed` alone, so an
  * operation index always sees the same generated data. All state lives
  * under `root`, which starts empty. */
trait Workload {
  def name: String
  /** What one operation is, for the printed report. */
  def opName: String
  def itemName: String

  /** Fewest operations a measured run makes, whatever its time budget. */
  def minOps: Int = 1
  /** Operations `0 until warmUpOps` run untimed in the set-up, on the
    * measured state; timing starts at operation `warmUpOps`. */
  def warmUpOps: Int = 1
  /** Start long-lived parts (stream queries) before the first operation. */
  def begin(traced: Boolean): Unit = ()
  /** Generate the inputs of operation `i` (untimed). */
  def prepare(i: Int): Unit
  /** Run operation `i`; the caller times it. */
  def run(i: Int, tracer: Tracer): OpResult
  /** Ground-truth checks that can only run after the last operation
    * (e.g. windows a stream finalizes later); mismatches attributed to
    * operation indices. Untimed. */
  def finish(): Seq[(Int, String)] = Nil
  /** Results only complete after [[finish]], for traced/untraced equality. */
  def finalDigest: String = ""
  /** Output bytes written per input byte so far. */
  def bytesOutPerByteIn: Double
  /** Per-layer metrics from a traced pass whose timed operations are
    * `ops`. */
  def perLayer(tracer: Tracer, ops: Seq[Int]): Seq[(String, Double)]
  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("dq_gate", "curate", "stream_gate")

  def apply(name: String, spark: SparkSession, root: Path, seed: Long,
            scale: Scale): Workload = name match {
    case "dq_gate" => new DqGate(spark, root, seed, scale)
    case "curate" => new Curate(spark, root, seed, scale)
    case "stream_gate" => new StreamGate(spark, root, seed, scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' — one of ${names.mkString(", ")}")
  }
}

/** Input sizes: `full` for measured runs and their warm-up, `tiny` for the
  * smoke test. A `dq_gate` day has the row counts of the repository's
  * sf0.01 testdata (15,000 orders, ~60,000 lineitems, 1,500 customers,
  * 100 suppliers) and a `curate` shard the size of its `documents` table
  * (500; the census in BASELINE.md). The batch size has no documented
  * source: it is chosen so that a run fits its time budget. */
final case class Scale(orders: Int, customers: Int, suppliers: Int, docs: Int,
                       batchEvents: Int)
object Scale {
  val full: Scale = Scale(orders = 15000, customers = 1500, suppliers = 100, docs = 500,
    batchEvents = 2000)
  val tiny: Scale = Scale(orders = 400, customers = 80, suppliers = 20, docs = 200,
    batchEvents = 300)
}

/** Seed derivation: every generated unit (a day, a shard, a batch) gets
  * its own stream, so unit `i` is identical however many units a run
  * generates. */
object Seeds {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long, unit: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed, stream), unit))
}
