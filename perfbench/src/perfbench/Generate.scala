package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Writes `units` tiny generated inputs plus their ground truth
  * (`truth.jsonl`, one JSON object per unit), for the smoke test to
  * compare across seeds and recount independently. */
object Generate {

  def write(workload: String, seed: Long, units: Int, dir: Path): Unit = {
    Files2.deleteTree(dir)
    Files.createDirectories(dir)
    val truth = mutable.ArrayBuffer.empty[String]
    workload match {
      case "dq_gate" =>
        (0 until units).foreach { d =>
          val day = DqGen.day(seed, d, Scale.tiny)
          DqGen.write(day, dir.resolve(DqGen.runId(d)))
          truth += DqGen.truthJson(day)
        }
      case "curate" =>
        val v = new CurateGen.Vocab(seed)
        val bench = CurateGen.benchmark(seed, v)
        Files.writeString(dir.resolve("benchmark.jsonl"), bench.map { case (id, t) =>
          Json.obj(Seq("bench_id" -> id.toString, "text" -> Json.str(t)))
        }.mkString("", "\n", "\n"))
        (0 until units).foreach { s =>
          val sh = CurateGen.shard(seed, v, bench, s, Scale.tiny.docs)
          ParquetOut.write(dir.resolve(f"shard-$s%06d/documents.parquet"), Schemas.documents, sh.rows)
          truth += CurateGen.truthJson(sh)
        }
      case "stream_gate" =>
        val windows = mutable.Map.empty[Long, StreamGen.WindowTruth]
        (0 until units).foreach { k =>
          val b = StreamGen.batch(seed, k, Scale.tiny.batchEvents)
          StreamGen.addTruth(windows, b)
          ParquetOut.write(dir.resolve(f"batch-$k%06d/events.parquet"), Schemas.events,
            b.events.map(e => Row(e.ts, e.user_id.map(Long.box).orNull, e.event_type, e.value, e.text)))
          truth += Json.obj(Seq("batch" -> k.toString, "late" -> b.late.toString,
            "dups" -> b.dups.toString, "watermark_ms" -> StreamGen.watermark(k).toString))
        }
        truth += Json.obj(Seq("windows" -> Json.obj(windows.toSeq.sortBy(_._1).map { case (w, t) =>
          w.toString -> Json.obj(Seq("n" -> t.n.toString, "null_user" -> t.nullUser.toString,
            "bad_type" -> t.badType.toString, "bad_value" -> t.badValue.toString))
        })))
    }
    Files.writeString(dir.resolve("truth.jsonl"), truth.mkString("", "\n", "\n"))
  }
}
