package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.ValidationSuiteResult
import graft.pipeline.Pipeline
import graft.sink.{Notifiers, ResultStore}
import graft.suite.{Checkpoint, CheckpointSpec, SuiteLoader, ValidationSuite}

/** Generator of one day's TPC-H-like batch with faults planted on a
  * seeded schedule, and the verdict every check must reach on it. */
object DqGen {

  /** Expected (status, unexpected_count) per qualified check name. */
  type Truth = Map[String, (String, Long)]

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  final case class Day(index: Int, tables: Seq[Table], faults: Map[String, Int],
                       truth: Map[String, Truth]) {
    def rows: Long = tables.map(_.rows.size.toLong).sum
  }

  /** Run ids sort lexically in run order: drift baselines resolve by
    * `max(run_id)`. */
  def runId(day: Int): String = f"day-$day%06d"
  def timestamp(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString + "T00:00:00Z"

  val rowFaults: Seq[String] = Seq(
    "null_custkey", "bad_status", "bad_priority", "neg_price_f", "high_price",
    "dup_order", "dup_custkey", "bad_segment", "high_acctbal", "bad_name",
    "orphan_nation", "bad_pair", "bad_discount", "dup_line")

  private val Pass = "PASSED"
  private val Fail = "FAILED"
  private def counted(n: Long): (String, Long) = (if (n == 0) Pass else Fail, n)
  private val ok: (String, Long) = (Pass, 0L)

  /** Orders row count of a day: a ±3% jitter around the base, and on a
    * planted drift day a 30% step. Its own stream, so the previous day's
    * count costs nothing to re-derive. */
  def ordersCount(seed: Long, day: Int, scale: Scale): Int = {
    val r = Seeds.rng(seed, 11, day)
    val jitter = 0.97 + 0.06 * r.nextDouble()
    val mult = if (r.nextDouble() < 0.12) { if (r.nextBoolean()) 1.3 else 0.7 } else 1.0
    math.round(scale.orders * jitter * mult).toInt
  }

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def money(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + (hi - lo) * r.nextDouble()) * 100.0) / 100.0

  private def ts(r: java.util.SplittableRandom): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(1992, 1, 1, 0, 0)
      .plusDays(r.nextInt(2500).toLong))

  /** Disjoint row picks: a seeded permutation consumed front to back. */
  private final class Picker(n: Int, r: java.util.SplittableRandom) {
    private val perm = {
      val a = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private var pos = 0
    def take(k: Int): Seq[Int] = { val s = perm.slice(pos, pos + k).toSeq; pos += k; s }
    def remaining: Int = n - pos
  }

  def day(seed: Long, d: Int, scale: Scale): Day = {
    val r = Seeds.rng(seed, 12, d)
    val nOrders = ordersCount(seed, d, scale)
    val nCust = scale.customers + r.nextInt(50)

    // ---- fault schedule: about half the days carry row faults
    val faulty = r.nextDouble() >= 0.5
    val picked = mutable.LinkedHashMap.empty[String, Int]
    if (faulty) {
      rowFaults.foreach(f => if (r.nextDouble() < 0.3) picked(f) = 1 + r.nextInt(15))
      if (picked.isEmpty) picked(rowFaults(r.nextInt(rowFaults.size))) = 1 + r.nextInt(15)
      if (r.nextDouble() < 0.1) picked("mostly_breach") = (nOrders * 0.6).toInt
    }
    def k(f: String): Int = picked.getOrElse(f, 0)

    // ---- clean rows
    val region = regions.indices.map(i => Row(i, regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val supplier = (0 until scale.suppliers).map(i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
    // Stratified balances: the quantile and mean checks sit far from their
    // bounds at any size, so only planted faults move their verdicts.
    val strata = new Picker(nCust, r)
    val cust = strata.take(nCust).toArray.map { rank =>
      val bal = -999.99 + 10999.98 * (rank + r.nextDouble()) / nCust
      Array[Any](0L, "", r.nextInt(25), math.round(bal * 100.0) / 100.0, segments(r.nextInt(4)))
    }
    cust.indices.foreach { i => cust(i)(0) = i.toLong; cust(i)(1) = f"Customer#$i%09d" }
    val orderBase = d.toLong * 10000000L
    val orders = Array.tabulate(nOrders)(i => Array[Any](orderBase + i,
      r.nextInt(nCust).toLong, Seq("O", "F", "P")(r.nextInt(3)),
      money(r, 1000.0, 290000.0), ts(r), priorities(r.nextInt(5))))
    val lineBuf = mutable.ArrayBuffer.empty[Array[Any]]
    val firstLine = new Array[Int](nOrders)
    val lineCount = new Array[Int](nOrders)
    for (o <- 0 until nOrders) {
      val m = 1 + r.nextInt(7)
      firstLine(o) = lineBuf.size
      lineCount(o) = m
      for (ln <- 1 to m) {
        val q = (1 + r.nextInt(50)).toDouble
        lineBuf += Array[Any](orderBase + o, r.nextInt(2000).toLong,
          r.nextInt(scale.suppliers).toLong, ln, q, math.round(q * (900 + r.nextInt(1100)) * 100.0) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("O", "F")(r.nextInt(2)), ts(r))
      }
    }
    val lines = lineBuf.toArray

    // ---- plants, on disjoint rows per table
    val op = new Picker(nOrders, r)
    op.take(k("null_custkey")).foreach(i => orders(i)(1) = null)
    op.take(k("bad_status")).foreach(i => orders(i)(2) = "X")
    op.take(k("bad_priority")).foreach(i => orders(i)(5) = Seq("6-BOGUS", "urgent")(i % 2))
    op.take(k("neg_price_f")).foreach { i => orders(i)(2) = "F"; orders(i)(3) = -money(r, 1.0, 500.0) }
    op.take(k("high_price")).foreach(i => orders(i)(3) = money(r, 300001.0, 350000.0))
    val dupO = op.take(2 * k("dup_order"))
    dupO.grouped(2).foreach { case Seq(src, dst) => orders(dst)(0) = orders(src)(0); case _ => () }
    op.take(math.min(k("mostly_breach"), op.remaining)).foreach(i => orders(i)(3) = 400000.0)

    val cp = new Picker(nCust, r)
    val dupC = cp.take(2 * k("dup_custkey"))
    dupC.grouped(2).foreach { case Seq(src, dst) => cust(dst)(0) = cust(src)(0); case _ => () }
    cp.take(k("bad_segment")).foreach(i => cust(i)(4) = "MACHINERY")
    cp.take(k("high_acctbal")).foreach(i => cust(i)(3) = money(r, 12000.0, 20000.0))
    cp.take(k("bad_name")).foreach(i => cust(i)(1) = "Cu")
    cp.take(k("orphan_nation")).foreach(i => cust(i)(2) = 25 + r.nextInt(10))

    // dup_line: the second line of distinct multi-line orders reuses
    // line number 1; the other line plants avoid those lines.
    val multi = new Picker(nOrders, r)
    val dupLineOrders = Iterator.continually(multi.take(1)).takeWhile(_.nonEmpty)
      .map(_.head).filter(lineCount(_) >= 2).take(k("dup_line")).toSeq
    val dupLineRows = dupLineOrders.map(o => firstLine(o) + 1).toSet
    dupLineRows.foreach(i => lines(i)(3) = 1)
    val lp = new Picker(lines.length, r)
    def freeLines(n: Int): Seq[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      while (out.size < n) { val x = lp.take(1).head; if (!dupLineRows(x)) out += x }
      out.toSeq
    }
    freeLines(k("bad_pair")).foreach(i => lines(i)(5) = lines(i)(4).asInstanceOf[Double] * 0.5)
    freeLines(k("bad_discount")).foreach(i => lines(i)(6) = 0.5)

    // ---- verdicts
    val prevOrders = if (d == 0) -1 else ordersCount(seed, d - 1, scale)
    val priceBad = k("neg_price_f") + k("high_price") +
      math.min(k("mostly_breach"), nOrders)
    val mostlyOk = priceBad.toDouble / nOrders * 100.0 <= 50.0
    val propOk = (nCust - k("dup_custkey")).toDouble / nCust >= 0.99
    val driftTruth: Truth =
      if (prevOrders < 0) Map.empty
      else {
        val pct = math.abs(nOrders - prevOrders).toDouble / prevOrders * 100.0
        Map("orders.row_count_drift:10.0pct" -> (if (pct <= 10.0) ok else (Fail, 1L)))
      }
    val condF = "orders.between:o_totalprice:where:o_orderstatus = 'F'"
    val core: Truth = Map(
      "orders.row_count_between" -> ok,
      "orders.not_null:o_custkey" -> counted(k("null_custkey")),
      "orders.in_set:o_orderstatus" -> counted(k("bad_status")),
      "orders.regex:o_orderpriority" -> counted(k("bad_priority")),
      "orders.between:o_totalprice" -> (if (mostlyOk) Pass else Fail, priceBad.toLong),
      condF -> counted(k("neg_price_f")),
      "customer.not_null:c_custkey" -> ok,
      "customer.proportion_unique:c_custkey" -> (if (propOk) ok else (Fail, 1L)),
      "customer.in_set:c_mktsegment" -> counted(k("bad_segment")),
      "customer.between:c_acctbal" -> counted(k("high_acctbal")),
      "customer.value_length:c_name" -> counted(k("bad_name")),
      "customer.distinct_count:c_mktsegment" -> ok,
      "customer.distinct_count_approx:c_mktsegment" -> ok,
      "customer.quantile_approx:c_acctbal:0.5" -> ok,
      "customer.agg_bounds:mean:c_acctbal" -> ok,
      "customer.quantile:c_acctbal:0.5" -> ok,
      "customer.quantile:c_acctbal:0.95" -> ok,
      "lineitem.pair_greater:l_extendedprice>l_quantity" -> counted(k("bad_pair")),
      "lineitem.between:l_discount" -> counted(k("bad_discount")))
    val drift: Truth = Map(
      "orders.row_count_between" -> ok,
      condF -> counted(k("neg_price_f"))) ++ driftTruth
    val wide: Truth = Map(
      "lineitem.unique:l_orderkey,l_linenumber" -> counted(2L * dupLineOrders.size),
      "lineitem.quantile:l_quantity:0.5" -> ok,
      "lineitem.between:l_quantity" -> ok,
      "lineitem.in_set:l_returnflag" -> ok,
      "lineitem.in_set:l_linestatus" -> ok,
      "lineitem.pair_greater:l_quantity>l_discount" -> ok,
      "lineitem.not_null:l_shipdate" -> ok,
      "orders.unique:o_orderkey" -> counted(2L * k("dup_order")),
      "customer.regex:c_name" -> counted(k("bad_name")),
      "customer.in_set:c_nationkey" -> counted(k("orphan_nation")),
      "customer.quantile:c_acctbal:0.25" -> ok,
      "customer.quantile:c_acctbal:0.75" -> ok)
    val pipeline: Truth = Map(
      "raw_region.row_count_between" -> ok, "raw_region.not_null:r_regionkey" -> ok,
      "raw_nation.row_count_between" -> ok, "raw_nation.not_null:n_nationkey" -> ok,
      "raw_salesperson.row_count_between" -> ok,
      "raw_salesperson.not_null:s_suppkey" -> ok,
      "stg_territory.row_count_between" -> ok,
      // NATION_20..24 sit outside the flagship whitelist by design.
      "stg_territory.in_set:region_name" -> counted(5L),
      "stg_salesperson.row_count_between" -> ok,
      "stg_salesperson.not_null:salesperson_key" -> ok,
      "mart_sales_performance.row_count_between" -> ok)

    val faults = picked.toMap ++
      (if (prevOrders > 0 && driftTruth.values.exists(_._1 == Fail)) Map("drift" -> 1) else Map.empty)
    Day(d, Seq(
      Table("region", Schemas.region, region),
      Table("nation", Schemas.nation, nation),
      Table("supplier", Schemas.supplier, supplier),
      Table("customer", Schemas.customer, cust.toSeq.map(a => Row.fromSeq(a.toSeq))),
      Table("orders", Schemas.orders, orders.toSeq.map(a => Row.fromSeq(a.toSeq))),
      Table("lineitem", Schemas.lineitem, lines.toSeq.map(a => Row.fromSeq(a.toSeq)))),
      faults, Map("core" -> core, "drift" -> drift, "wide" -> wide, "pipeline" -> pipeline))
  }

  /** `<dir>/<table>.parquet`, one file each — the layout `Tables.load` reads. */
  def write(day: Day, dir: Path): Unit =
    day.tables.foreach(t => ParquetOut.write(dir.resolve(s"${t.name}.parquet"), t.schema, t.rows))

  def truthJson(day: Day): String = Json.obj(Seq(
    "day" -> day.index.toString, "run_id" -> Json.str(runId(day.index)),
    "faults" -> Json.obj(day.faults.toSeq.sorted.map { case (k, v) => k -> v.toString }),
    "truth" -> Json.obj(day.truth.toSeq.sortBy(_._1).map { case (suite, t) =>
      suite -> Json.obj(t.toSeq.sortBy(_._1).map { case (n, (s, u)) =>
        n -> Json.obj(Seq("status" -> Json.str(s), "unexpected" -> u.toString)) })
    })))
}

object Schemas {
  private def f(n: String, t: DataType, nullable: Boolean = true) = StructField(n, t, nullable)
  val region = StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType)))
  val nation = StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
    f("n_regionkey", IntegerType)))
  val supplier = StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
    f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)))
  val customer = StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
    f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))
  val orders = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
    f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
    f("o_orderdate", TimestampType), f("o_orderpriority", StringType)))
  val lineitem = StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
    f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
    f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
    f("l_returnflag", StringType), f("l_linestatus", StringType),
    f("l_shipdate", TimestampType)))
  val documents = StructType(Seq(f("doc_id", LongType), f("text", StringType),
    f("lang", StringType), f("source", StringType), f("n_chars", LongType)))
  val events = StructType(Seq(f("ts", TimestampType), f("user_id", LongType),
    f("event_type", StringType), f("value", DoubleType), f("text", StringType)))
}

/** The reference DAG, one day per operation: three checkpoints (the two
  * shipped suites and a wide one) and the validate → transform →
  * validate → alert pipeline. */
final class DqGate(spark: SparkSession, root: Path, seed: Long, scale: Scale)
    extends Workload {
  val name = "dq_gate"
  val opName = "day"
  val itemName = "rows"
  /** Days differ by seed (fault days, drift days): time two at least. */
  override val minOps = 2

  private val inputs = root.resolve("input")
  private val stores = root.resolve("store")
  private val alerts = root.resolve("alerts")
  private val checkpoints: Seq[(String, CheckpointSpec)] = Seq(
    "core" -> Checkpoint.load("checkpoints/testdata_core.json"),
    "drift" -> Checkpoint.load("checkpoints/testdata_drift.yaml"),
    "wide" -> Checkpoint.load("perfbench/suites/wide_checkpoint.json"))
  private val notifier = Notifiers.JsonFileNotifier(alerts.toString)
  /** Rows and expected verdicts of each generated day. */
  private val days = mutable.Map.empty[Int, (Long, Map[String, DqGen.Truth])]
  private var bytesIn = 0L

  private def dayDir(i: Int): Path = inputs.resolve(DqGen.runId(i))
  private def store(k: String): String = stores.resolve(k).toString

  def prepare(i: Int): Unit = {
    val d = DqGen.day(seed, i, scale)
    DqGen.write(d, dayDir(i))
    bytesIn += Files2.bytes(Files2.dataFiles(dayDir(i)))
    days(i) = (d.rows, d.truth)
  }

  /** `Checkpoint.run`, decomposed into the public calls it makes. */
  private def tracedCheckpoint(t: Tracer, key: String, dir: String,
                               spec: CheckpointSpec, storeDir: String,
                               runId: String): ValidationSuiteResult = {
    val suite = t.span("suite.load", key)(SuiteLoader.load(spec.suitePath))
    val bound = t.span("suite.bind", key)(
      if (spec.useHistory) SuiteLoader.bindWithHistory(spark, dir, suite, storeDir)
      else SuiteLoader.bind(spark, dir, suite))
    val result = t.span("suite.run", key)(ValidationSuite.run(bound))
    t.span("sink.store_write", key)(ResultStore.write(spark, result, storeDir, runId))
    if (spec.writeDocs)
      t.span("sink.docs", key)(ResultStore.writeDocs(result, s"$storeDir/_docs", runId))
    result
  }

  /** `Pipeline.runAndNotify`, decomposed into the public calls it makes. */
  private def tracedPipeline(t: Tracer, key: String, dir: String, runId: String,
                             stamp: String): Pipeline.Outcome = {
    val raw = t.span("pipeline.validate_raw", key)(Pipeline.validateRaw(spark, dir))
    val (outputs, transformed) = t.span("pipeline.validate_transformed", key) {
      val outs = Pipeline.transform(spark, dir)
      (outs, Pipeline.validateTransformed(outs, graft.Queries.regionWhitelist))
    }
    val report = t.span("pipeline.failure_report", key)(
      if (transformed.passed) None
      else Some(ValidationSuite.failureReport(
        pipeline = "pager-workflow-1", task = "validate_transformed_data",
        result = transformed, timestamp = stamp, runId = runId)))
    t.span("sink.notify", key)(report.foreach(notifier.notify))
    Pipeline.Outcome(raw, transformed, outputs, report)
  }

  def run(i: Int, t: Tracer): OpResult = {
    val dir = dayDir(i).toString
    val runId = DqGen.runId(i)
    val stamp = DqGen.timestamp(i)
    val (suites, outcome) = t.span("dq.day", runId) {
      val suites = checkpoints.map { case (k, spec) =>
        k -> (if (t.enabled) tracedCheckpoint(t, runId, dir, spec, store(k), runId)
              else Checkpoint.run(spark, dir, spec, store(k), runId))
      }
      val outcome =
        if (t.enabled) tracedPipeline(t, runId, dir, runId, stamp)
        else Pipeline.runAndNotify(spark, dir, notifier, runId = runId, timestamp = stamp)
      (suites, outcome)
    }
    verify(i, suites, outcome)
  }

  private def render(r: ValidationSuiteResult): String =
    r.details.map(d => s"${d.validationName}|${d.status}|${d.elementCount}|" +
      s"${d.unexpectedCount}|${d.message}|${d.partialUnexpectedList.mkString(",")}")
      .sorted.mkString(";")

  private def verify(i: Int, suites: Seq[(String, ValidationSuiteResult)],
                     outcome: Pipeline.Outcome): OpResult = {
    val truth = days(i)._2
    val bad = mutable.ArrayBuffer.empty[String]
    def compare(label: String, r: ValidationSuiteResult, want: DqGen.Truth): Unit = {
      val got = r.details.map(d => d.validationName -> (d.status, d.unexpectedCount)).toMap
      if (got.size != r.details.size) bad += s"$label: duplicate check names"
      (got.keySet ++ want.keySet).toSeq.sorted.foreach { n =>
        if (got.get(n) != want.get(n)) bad += s"$label $n: got ${got.get(n)} want ${want.get(n)}"
      }
    }
    suites.foreach { case (k, r) => compare(k, r, truth(k)) }
    compare("pipeline", ValidationSuiteResult.of(
      outcome.rawValidation.details ++ outcome.transformedValidation.details), truth("pipeline"))
    // Drift must bind to the previous day's run.
    if (i > 0) {
      val drift = suites.toMap.apply("drift").details
        .find(_.validationName.startsWith("orders.row_count_drift"))
      val want = s"in run '${DqGen.runId(i - 1)}'"
      if (!drift.exists(_.message.contains(want))) bad += s"drift baseline is not $want"
    }
    val alert = alerts.resolve(s"${DqGen.runId(i)}.json")
    if (outcome.report.isEmpty || !Files.exists(alert)) bad += "failure alert missing"
    val digest = suites.map { case (k, r) => s"$k=${render(r)}" }.mkString("\n") +
      s"\nraw=${render(outcome.rawValidation)}\ntransformed=${render(outcome.transformedValidation)}" +
      s"\nreport=${outcome.report.map(Notifiers.toJson).getOrElse("")}"
    OpResult(days(i)._1, digest, bad.toSeq)
  }

  def bytesOutPerByteIn: Double = {
    val out = Files2.bytes(Files2.dataFiles(stores)) + Files2.bytes(Files2.dataFiles(alerts))
    out.toDouble / math.max(1L, bytesIn)
  }

  def perLayer(t: Tracer, ops: Seq[Int]): Seq[(String, Double)] = {
    val spans = t.all
    val keys = ops.map(DqGen.runId)
    val byKey = spans.groupBy(_.key)
    def perDay(names: String*)(f: Span => Double): Seq[Double] =
      keys.map(k => byKey.getOrElse(k, Nil).filter(s => names.contains(s.name)).map(f).sum)
    def med(names: String*)(f: Span => Double): Double = Stats.median(perDay(names: _*)(f))
    val secs = (s: Span) => s.seconds
    val jobs = (s: Span) => t.inclusive(s).jobs.sum.toDouble
    val taskS = (s: Span) => t.inclusive(s).taskNanos.sum / 1e9
    val bind = perDay("suite.bind")(secs)
    val decile = math.max(1, bind.size / 10)
    val cores = spark.sparkContext.defaultParallelism
    def util(n: String): Double = {
      val ss = spans.filter(_.name == n)
      ss.map(taskS).sum / math.max(1e-9, ss.map(_.seconds).sum * cores)
    }
    // Files the result stores gained per day, warm-up days included.
    val storeFiles = Files2.dataFiles(stores).size.toDouble / math.max(1, days.size)
    Seq(
      "suite.bind_s" -> Stats.median(bind),
      "suite.bind_jobs" -> med("suite.bind")(jobs),
      "suite.bind_growth" -> Stats.median(bind.takeRight(decile)) /
        Stats.median(bind.take(decile)),
      "suite.run_s" -> med("suite.run")(secs),
      "suite.run_jobs" -> med("suite.run")(jobs),
      "suite.run_task_s" -> med("suite.run")(taskS),
      "checks.input_rows" -> med("suite.run")(s => t.inclusive(s).inputRecords.sum.toDouble),
      "sink.store_write_s" -> med("sink.store_write")(secs),
      "sink.store_files" -> storeFiles,
      "sink.docs_s" -> med("sink.docs")(secs),
      "sink.notify_s" -> med("sink.notify")(secs),
      "pipeline.validate_raw_s" -> med("pipeline.validate_raw")(secs),
      "pipeline.validate_raw_jobs" -> med("pipeline.validate_raw")(jobs),
      "pipeline.validate_transformed_s" -> med("pipeline.validate_transformed")(secs),
      "pipeline.validate_transformed_jobs" -> med("pipeline.validate_transformed")(jobs),
      "etl.shuffle_mb" -> med("pipeline.validate_transformed")(s =>
        t.inclusive(s).shuffleBytes.sum / 1048576.0),
      "util.dq.day" -> util("dq.day"),
      "util.suite.run" -> util("suite.run"),
      "util.pipeline.validate_transformed" -> util("pipeline.validate_transformed"))
  }
}
