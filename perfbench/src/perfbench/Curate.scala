package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Curation, Dedup, Packing}

/** Generator of document shards with planted exact duplicates (within the
  * shard and of earlier shards), near-duplicates, benchmark-contaminated
  * documents and PII, over a language mix with long-tailed lengths. */
object CurateGen {

  final case class Shard(index: Int, rows: Seq[Row], exactDups: Int,
                         historyDups: Int, nearDups: Seq[Long],
                         contaminated: Int)

  val langs: Seq[(String, Double)] =
    Seq("en" -> 0.55, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.10, "zh" -> 0.05)
  private val VocabSize = 4000

  /** Per-language vocabularies of synthetic words (seeded). */
  final class Vocab(seed: Long) {
    val words: Map[String, IndexedSeq[String]] = langs.zipWithIndex.map { case ((l, _), li) =>
      val r = Seeds.rng(seed, 21, li)
      val letters = if (l == "zh") "bcdfghjklmnpqrstwxyz" else "abcdefghijklmnopqrstuvwxyz"
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < VocabSize)
        seen += Iterator.fill(3 + r.nextInt(7))(letters(r.nextInt(letters.length))).mkString
      l -> seen.toIndexedSeq
    }.toMap
    /** Skewed draw: frequent low indices, a long tail of rare words. */
    def word(l: String, r: java.util.SplittableRandom): String = {
      val u = r.nextDouble()
      words(l)((VocabSize * u * u).toInt)
    }
  }

  /** The benchmark (eval) set that contaminated documents quote. */
  def benchmark(seed: Long, v: Vocab): Seq[(Long, String)] = {
    val r = Seeds.rng(seed, 23, 0)
    (0 until 30).map(b => b.toLong -> Seq.fill(30 + r.nextInt(21))(v.word("en", r)).mkString(" "))
  }

  def docId(shard: Int, j: Int): Long = shard.toLong * 1000000L + j

  /** The clean text and language of document `j` of `shard` — a pure
    * function of the seed, so earlier shards' documents can be re-derived
    * to plant cross-shard duplicates. */
  def base(seed: Long, v: Vocab, shard: Int, j: Int): (String, String) = {
    val r = Seeds.rng(seed, 22, docId(shard, j))
    val u = r.nextDouble()
    val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
      .tail.find(_._2 > u).map(_._1).getOrElse("en")
    val len = math.min(1500, 20 + math.exp(4.3 + 0.8 * r.nextGaussian()).toInt)
    (Seq.fill(len)(v.word(lang, r)).mkString(" "), lang)
  }

  /** Documents `[0, n/5)` are never modified: they are the originals that
    * copies and near-duplicates derive from, here and in later shards. */
  def poolSize(n: Int): Int = n / 5

  def shard(seed: Long, v: Vocab, bench: Seq[(Long, String)], s: Int, n: Int): Shard = {
    val r = Seeds.rng(seed, 24, s)
    val texts = Array.tabulate(n)(j => base(seed, v, s, j))
    val pool = poolSize(n)
    val targets = {
      val a = (pool until n).toArray
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.iterator
    }
    val originals = {
      val a = (0 until pool).toArray
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.iterator
    }
    val nExact = n * 3 / 100
    val nHist = if (s == 0) 0 else n * 2 / 100
    val nNear = n * 3 / 100
    val nCont = n / 100
    val nPii = n * 5 / 100
    // Case and spacing variants normalize to the same text.
    def variant(t: String): String =
      if (r.nextBoolean()) t.toUpperCase else t.replace(" ", "  ")
    (0 until nExact).foreach { _ =>
      val j = targets.next(); val o = originals.next()
      texts(j) = (variant(texts(o)._1), texts(o)._2)
    }
    val histPicked = mutable.Set.empty[(Int, Int)]
    (0 until nHist).foreach { _ =>
      val j = targets.next()
      val src = Iterator.continually((r.nextInt(s), r.nextInt(pool))).find(histPicked.add).get
      val (t, l) = base(seed, v, src._1, src._2)
      texts(j) = (variant(t), l)
    }
    val near = (0 until nNear).map { _ =>
      val j = targets.next()
      // A base long enough that one substitution per 50 words keeps the
      // 3-shingle Jaccard near 0.9.
      val o = Iterator.continually(originals.next()).find(o => texts(o)._1.count(_ == ' ') >= 59).get
      val (t, l) = texts(o)
      val ws = t.split(" ")
      var p = r.nextInt(50)
      while (p < ws.length) { ws(p) = v.word(l, r) + "q"; p += 50 }
      texts(j) = (ws.mkString(" "), l)
      docId(s, j)
    }
    (0 until nCont).foreach { _ =>
      val j = targets.next()
      val (t, l) = texts(j)
      val ws = t.split(" ")
      val at = r.nextInt(ws.length + 1)
      val b = bench(r.nextInt(bench.size))._2
      texts(j) = ((ws.take(at) :+ b) ++ ws.drop(at)).mkString(" ") -> l
    }
    (0 until nPii).foreach { _ =>
      val j = targets.next()
      val (t, l) = texts(j)
      val pii = Seq(
        f"contact user${r.nextInt(100000)}%05d@example.com today",
        f"call 555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d now",
        s"host 10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)} down")(r.nextInt(3))
      texts(j) = (t + " " + pii, l)
    }
    val rows = texts.indices.map { j =>
      val (t, l) = texts(j)
      Row(docId(s, j), t, l, s"src${j % 5}", t.length.toLong)
    }
    Shard(s, rows, nExact, nHist, near, nCont)
  }

  def truthJson(sh: Shard): String = Json.obj(Seq(
    "shard" -> sh.index.toString,
    "exact_dups" -> sh.exactDups.toString, "history_dups" -> sh.historyDups.toString,
    "near_dups" -> Json.arr(sh.nearDups.map(_.toString)),
    "contaminated" -> sh.contaminated.toString))
}

/** Corpus curation, one shard per operation: funnel audit (with MinHash
  * fuzzy pairs), curate against the fingerprint history, sharded write,
  * history append, layout audit of the written corpus, sequence packing. */
final class Curate(spark: SparkSession, root: Path, seed: Long, scale: Scale)
    extends Workload {
  val name = "curate"
  val opName = "shard"
  val itemName = "docs"

  private val vocab = new CurateGen.Vocab(seed)
  private val benchRows = CurateGen.benchmark(seed, vocab)
  private val bench: DataFrame = {
    import spark.implicits._
    benchRows.toDF("bench_id", "text")
  }
  private val cfg = Curation.Config()
  private val inputs = root.resolve("input")
  private val corpus = root.resolve("corpus")
  private val history = root.resolve("history")
  private val shards = mutable.Map.empty[Int, CurateGen.Shard]
  private var bytesIn = 0L

  private def key(i: Int): String = f"shard-$i%06d"
  private def shardDir(i: Int): Path = inputs.resolve(key(i))
  private def corpusDir(i: Int): String = corpus.resolve(key(i)).toString

  def prepare(i: Int): Unit = {
    val sh = CurateGen.shard(seed, vocab, benchRows, i, scale.docs)
    // A raw shard lands as several files, so scans split across cores.
    val files = 4
    sh.rows.grouped((sh.rows.size + files - 1) / files).zipWithIndex.foreach { case (part, p) =>
      ParquetOut.write(shardDir(i).resolve(f"documents.parquet/part-$p%05d.parquet"),
        Schemas.documents, part)
    }
    bytesIn += Files2.bytes(Files2.dataFiles(shardDir(i)))
    shards(i) = sh.copy(rows = Nil)
  }

  def run(i: Int, t: Tracer): OpResult = {
    val k = key(i)
    val (funnel, audit, nSeq) = t.span("curate.shard", k) {
      val docs = Tables.documents(spark, shardDir(i).toString)
      val hist =
        if (i == 0) None else Some(spark.read.parquet(history.toString))
      val (pairs, funnel) = t.span("ext.funnel", k) {
        val pairs = t.span("ext.minhash_pairs", k)(Dedup.minhashPairs(docs))
        (pairs, Curation.funnel(docs, bench, cfg, Some(pairs), hist).collect().head)
      }
      t.span("ext.curate_write", k)(
        Curation.write(Curation.curate(docs, bench, cfg, Some(pairs), hist), corpusDir(i)))
      t.span("ext.history_append", k)(
        Dedup.fingerprints(docs).write.mode("append").parquet(history.toString))
      val audit = t.span("ext.audit", k)(Curation.auditLayout(spark, corpusDir(i)).collect().head)
      val nSeq = t.span("ext.pack", k)(
        Packing.packSequences(spark.read.parquet(corpusDir(i)))
          .agg(countDistinct(col("seq_id"))).head().getLong(0))
      (funnel, audit, nSeq)
    }
    verify(i, funnel, audit, nSeq)
  }

  private def verify(i: Int, f: Row, audit: Row, nSeq: Long): OpResult = {
    val sh = shards(i)
    val bad = mutable.ArrayBuffer.empty[String]
    def l(r: Row, c: String): Long = r.getAs[Long](c)
    def expect(label: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$label: got $got want $want"
    expect("n_raw", l(f, "n_raw"), scale.docs.toLong)
    expect("exact-dup drops", l(f, "n_after_url") - l(f, "n_after_dedup"), sh.exactDups)
    expect("history drops", l(f, "n_after_dedup") - l(f, "n_after_history"), sh.historyDups)
    expect("contamination drops", l(f, "n_after_fuzzy") - l(f, "n_after_decontam"), sh.contaminated)
    Seq("bad_split", "bad_shuffle_key", "bad_shard").foreach(c => expect(c, l(audit, c), 0L))
    expect("corpus rows", l(audit, "n_rows"), l(f, "n_after_sample"))
    expect("packed sequences", nSeq, l(f, "n_sequences"))
    val digest = f.schema.fieldNames.map(c => s"$c=${f.getAs[Any](c)}").mkString(",") +
      ";" + audit.schema.fieldNames.map(c => s"$c=${audit.getAs[Any](c)}").mkString(",") +
      s";n_seq=$nSeq"
    OpResult(scale.docs.toLong, digest, bad.toSeq)
  }

  def bytesOutPerByteIn: Double =
    Files2.bytes(Files2.dataFiles(corpus)).toDouble / math.max(1L, bytesIn)

  def perLayer(t: Tracer, ops: Seq[Int]): Seq[(String, Double)] = {
    val spans = t.all
    def med(n: String)(f: Span => Double): Double = Stats.median(spans.filter(_.name == n).map(f))
    val secs = (s: Span) => s.seconds
    val cores = spark.sparkContext.defaultParallelism
    def util(n: String): Double = {
      val ss = spans.filter(_.name == n)
      ss.map(t.inclusive(_).taskNanos.sum / 1e9).sum / math.max(1e-9, ss.map(_.seconds).sum * cores)
    }
    val written = ops.map(i => Files2.dataFiles(corpus.resolve(key(i))))
    // Near-duplicates are absent from the corpus only if the fuzzy stage
    // dropped them: no other stage removes them.
    val recall = ops.map { i =>
      val near = shards(i).nearDups
      val kept = spark.read.parquet(corpusDir(i)).where(col("doc_id").isin(near: _*)).count()
      (near.size - kept, near.size.toLong)
    }
    Seq(
      "ext.funnel_s" -> med("ext.funnel")(secs),
      "ext.funnel_jobs" -> med("ext.funnel")(t.inclusive(_).jobs.sum.toDouble),
      "ext.funnel_task_s" -> med("ext.funnel")(t.inclusive(_).taskNanos.sum / 1e9),
      "ext.funnel_shuffle_mb" -> med("ext.funnel")(t.inclusive(_).shuffleBytes.sum / 1048576.0),
      "ext.funnel_spill_mb" -> med("ext.funnel")(t.inclusive(_).spillBytes.sum / 1048576.0),
      "ext.curate_write_s" -> med("ext.curate_write")(secs),
      "sources.files_written" -> Stats.median(written.map(_.size.toDouble)),
      "sources.bytes_written" -> Stats.median(written.map(w => Files2.bytes(w).toDouble)),
      "ext.history_append_s" -> med("ext.history_append")(secs),
      "ext.audit_s" -> med("ext.audit")(secs),
      "ext.pack_s" -> med("ext.pack")(secs),
      "ext.fuzzy_recall" -> recall.map(_._1).sum.toDouble / math.max(1, recall.map(_._2).sum),
      "util.curate.shard" -> util("curate.shard"),
      "util.ext.funnel" -> util("ext.funnel"))
  }
}
