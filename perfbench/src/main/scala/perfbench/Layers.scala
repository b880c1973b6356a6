package graft.perfbench

import scala.collection.mutable

import graft.core.Core
import graft.functions.TextHash
import graft.operators.DedupOps
import graft.sources.DisplaySink
import graft.streaming.WeatherPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Per-layer probes for the traced run. Each one times calls into a
  * layer's public functions over the generated inputs; none changes the
  * program. Times are medians over a few repeats. */
object Layers {
  private def ms(ns: Long): Double = ns / 1e6
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def timeNs(body: => Unit): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** CPU speed and the scheduler's per-job floor on this host now. */
  def host(s: SparkSession): Map[String, Double] = {
    val spin = (0 until 5).map { _ =>
      timeNs {
        var x = 88172645463325252L
        var i = 0
        while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42) println(x)
      }.toDouble / 1e6
    }
    val floor = (0 until 9).map { _ =>
      ms(timeNs(s.sparkContext.parallelize(0 until 4, 4).map(_ + 1).count()))
    }
    Map("host.spin_ms" -> median(spin), "host.stage_floor_ms" -> median(floor))
  }

  /** Registers a plans/ object's SQL functions. Kernels are named by
    * object and SQL function, not by Scala symbol, so the same probe
    * builds against commits that predate a kernel (which is then left
    * out of the report). */
  private def register(obj: String, s: SparkSession): Boolean =
    try {
      val m = Class.forName(s"graft.plans.$obj$$").getField("MODULE$").get(null)
      m.getClass.getMethod("register", classOf[SparkSession]).invoke(m, s)
      true
    } catch { case _: ClassNotFoundException => false }

  /** rows/s of each native expression in plans/, as a projection (or for
    * the top-K aggregate, a grouped fold) over the generated corpus
    * repeated `reps` times and cached. */
  def kernels(s: SparkSession, dir: String, reps: Int): Map[String, Double] = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), explode(sequence(lit(1), lit(reps))).as("rep"))
      .select(col("doc_id"), col("text"), col("text").cast("binary").as("bin"),
        sort_array(array_distinct(split(col("text"), " "))).as("toks"),
        sort_array(array_distinct(slice(split(col("text"), " "), 1, 24))).as("head"))
      .persist()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        col("label"), explode(sequence(lit(1), lit(reps))).as("rep"))
      .persist()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val f = call_function _
    // (kernel, object that registers it, input rows, the probe query)
    val probes = Seq[(String, String, Double, () => DataFrame)](
      ("TokSketch", "TokSketch", nDocs, () => docs.select(
        f(s"graft_simhash${TextHash.Simhash64Bits}", Seq(col("toks"))),
        f("graft_minhash", Seq(col("toks"))))),
      ("SortedJaccard", "SortedJaccard", nDocs, () => docs.select(
        f("graft_jaccard", Seq(col("toks"), col("head"))))),
      ("DotProduct", "GraftFunctions", nEmb, () => emb.select(
        f("graft_dot", Seq(col("embedding"), col("embedding"))))),
      ("TopKPairs", "GraftFunctions", nEmb, () => emb.groupBy(col("label")).agg(
        f("graft_topk_pairs", Seq((col("vec_id") * 7919L) % 1009L,
          col("vec_id") * 100L + col("rep"), lit(16))))),
      ("ByteSum", "ByteSum", nDocs, () => docs.select(f("graft_bytesum", Seq(col("bin"))))),
      ("CharCounts", "CharCounts", nDocs, () => docs.select(
        f("graft_char_counts", Seq(col("text"))))),
      ("Winnow", "Winnow", nDocs, () => docs.select(f("graft_winnow", Seq(col("text"))))),
      ("TokStats", "TokStats", nDocs, () => docs.select(
        f("graft_tok_stats", Seq(col("text"))))))
    val out = probes.collect { case (k, obj, rows, df) if register(obj, s) =>
      val t = median((0 until 3).map(_ => timeNs(noop(df())).toDouble / 1e9))
      s"plans.$k.rows_per_s" -> rows / t
    }.toMap
    docs.unpersist(blocking = true)
    emb.unpersist(blocking = true)
    out
  }

  /** Core.table read of every input table into the no-op sink. */
  def coreScan(s: SparkSession, dir: String): Map[String, Double] = {
    val tables = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    val t = tables.map(n => timeNs(noop(Core.table(s, dir, n)))).sum
    Map("core.scan_s" -> t / 1e9)
  }

  /** The three phases behind pipeline_dedup, each forced on its own:
    * 62-bit sketches, the banded candidate join to star-reduced edges,
    * and the connected-components loop. (The candidate join checks the
    * Hamming bound inside its join condition, so the pairs it considers
    * are not visible from outside; only the edges it keeps are counted.) */
  def dedupPhases(s: SparkSession, dir: String): Map[String, Double] = {
    val docs = Core.table(s, dir, "documents")
    val runs = (0 until 3).map { _ =>
      var sk: DataFrame = null
      val tSk = timeNs { sk = DedupOps.simhash64SketchesOf(docs).localCheckpoint() }
      var e: DataFrame = null
      val tCand = timeNs { e = DedupOps.edgesFromSketches(sk).localCheckpoint() }
      val nEdges = e.count()
      val tCc = timeNs(noop(DedupOps.ccDoubled(sk.select("doc_id"), e,
        DedupOps.StarCcPairs)))
      Core.releaseShared()
      DedupOps.freeLocalCheckpoint(e)
      DedupOps.freeLocalCheckpoint(sk)
      (tSk / 1e9, tCand / 1e9, tCc / 1e9, nEdges.toDouble)
    }
    Map("dedup.sketch_s" -> median(runs.map(_._1)),
      "dedup.candidates_s" -> median(runs.map(_._2)),
      "dedup.cc_s" -> median(runs.map(_._3)),
      "dedup.edges" -> runs.head._4)
  }

  /** One cluster-maintenance fold, phase by phase, over the seeded ingest
    * state and its first batch: batch sketches, the batch x corpus delta
    * edges, and the incremental label update. */
  def ingestPhases(s: SparkSession, dir: String): Map[String, Double] = {
    val seed = s.read.parquet(s"$dir/seed.parquet")
      .select("doc_id", "lang", "source", "text")
    val batch = s.read.parquet(s"$dir/batches.parquet").filter(col("batch") === 0)
      .select("doc_id", "lang", "source", "text")
    val sk0 = DedupOps.simhash64SketchesOf(seed).localCheckpoint()
    val labels0 = DedupOps.ccFixpoint(sk0.select("doc_id"),
      DedupOps.edgesFromSketches(sk0)).localCheckpoint()
    Core.releaseShared()
    var bSk: DataFrame = null
    val tSk = timeNs {
      bSk = DedupOps.simhash64SketchesOf(batch)
        .join(sk0.select("doc_id"), Seq("doc_id"), "left_anti").localCheckpoint()
    }
    var delta: DataFrame = null
    val tDelta = timeNs {
      delta = DedupOps.incrementalSimhashDelta(sk0, bSk).localCheckpoint()
    }
    var labels: DataFrame = null
    val tCc = timeNs {
      labels = DedupOps.ccIncrementalUpdate(labels0, bSk.select("doc_id"), delta)
        .localCheckpoint()
    }
    val out = Map("ingest.sketch_ms" -> ms(tSk), "ingest.delta_ms" -> ms(tDelta),
      "ingest.cc_update_ms" -> ms(tCc),
      "ingest.delta_edges" -> delta.count().toDouble,
      "ingest.state_rows" -> labels.count().toDouble)
    Seq(bSk, delta, labels).foreach(DedupOps.freeLocalCheckpoint)
    Core.releaseShared()
    Seq(sk0, labels0).foreach(DedupOps.freeLocalCheckpoint)
    out
  }

  /** The weather-json source's pushed-down batch read of one payload, and
    * one rendered frame written through the display sink. */
  def sources(s: SparkSession, dir: String, out: String): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val payload = new java.io.File(s"$dir/forecast").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .find(f => !mapper.readTree(f).has("error")).get.getPath
    val scan = (0 until 5).map { _ =>
      ms(timeNs(s.read.format("weather-json").option("endpoint", "forecast")
        .option("path", payload).load()
        .select(col("current.temperature_2m"), col("current.weather_code"))
        .collect()))
    }
    val frame = s.createDataFrame(Seq(WeatherLoop.expected("probe", payload)))
    val path = s"$out/sink-probe"
    val sink = (0 until 5).map(_ => ms(timeNs(DisplaySink.writeFrames(frame, path))))
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(bytes).sum
    Map("sources.scan_ms" -> median(scan), "sources.sink_ms" -> median(sink),
      "sources.sink_mb" -> bytes(new java.io.File(path)) / 1048576.0)
  }

  /** Mean per-tick duration of each micro-batch phase (the stream reports
    * whole milliseconds, so a mean resolves what a median rounds away).
    * The source's offset and batch lookups read well under a millisecond
    * and are left out. */
  def streaming(ticks: Seq[Tick]): Map[String, Double] =
    Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets").map { p =>
      s"streaming.${p}_ms" -> ticks.map(_.durations.getOrElse(p, 0L)).sum.toDouble /
        math.max(ticks.size, 1)
    }.toMap

  /** Ticks of the reference pipeline for workloads that run no stream. */
  def weatherTicks(s: SparkSession, dir: String, out: String, n: Int)
      : Seq[Tick] = {
    val payloads = new java.io.File(s"$dir/forecast").listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getPath).sorted.take(n)
    val c = new TickCollector
    s.streams.addListener(c)
    val done = new java.util.concurrent.CountDownLatch(n)
    val q = WeatherPipeline.run(s, payloads.mkString(","), "probe",
      Trigger.ProcessingTime(0L), s"$out/probe-checkpoint") { _ => done.countDown() }
    try {
      require(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "weather probe stream stalled")
      q.processAllAvailable()
    } finally q.stop()
    Jmx.drainBus(s.sparkContext)
    s.streams.removeListener(c)
    c.drainAll()
  }

  def all(s: SparkSession, inputs: Map[String, String], out: String,
      ticks: Seq[Tick]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= kernels(s, inputs("docs"), reps = 8)
    m ++= coreScan(s, inputs("docs"))
    m ++= dedupPhases(s, inputs("docs"))
    m ++= ingestPhases(s, inputs("ingest"))
    m ++= sources(s, inputs("weather"), out)
    m ++= streaming(if (ticks.nonEmpty) ticks
      else weatherTicks(s, inputs("weather"), out, 16))
    m.toMap
  }
}
