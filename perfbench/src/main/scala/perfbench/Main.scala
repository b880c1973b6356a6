package graft.perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.operators.{ReferenceOps, RelationalOps, SqlSuite}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets the workload up, runs one
  * cold pass and then warm passes for the measuring window, checks the
  * outputs, and (traced runs) probes each layer. Every timed op is kept;
  * nothing is re-run to keep a better time. Writes result.json (and
  * trace.json when traced) under --out; run.py turns them into metrics.
  *
  * Usage: Main --workload W --inputs kind=dir[,kind=dir] --out DIR
  *             --seconds S --trace 0|1 */
object Main {
  /** `llm_batch`: the full curation pipeline plus, for each native
    * kernel in plans/, a contract query that calls it on its hot path
    * (perfbench/README.md says why each was picked). */
  val llmQueries: Seq[String] = Seq(
    "pipeline_full",             // curation composition; SimHash sketches + CC
    "dedup_minhash_est",         // TokSketch: MinHash signatures + band join
    "dedup_near_prefix",         // SortedJaccard: prefix-filtered verify join
    "sim_pq_topk",               // DotProduct, TopKPairs: PQ training + ADC top-K
    "txt_winnow",                // Winnow: per-doc fingerprint sets
    "txt_repetition",            // TokStats: the only docs query that calls it
    "txt_entropy",               // CharCounts: per-doc character histogram
    "multimodal_audio_segments") // ByteSum: frame energy

  /** `analytic_mix`: the reference pipeline's operators, the relational
    * operators and the SQL surface, in name order. */
  def analyticQueries: Seq[String] =
    (ReferenceOps.queries.keys ++ RelationalOps.queries.keys ++
      SqlSuite.queries.keys).toSeq.sorted

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  private def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val inputs = opt("inputs").split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    new java.io.File(out).mkdirs()

    val w: Workload = workload match {
      case "weather_loop" => new WeatherLoop(inputs("weather"), out, ticksPerPass = 15)
      case "analytic_mix" => new QueryMix(analyticQueries, inputs("tables"), out)
      case "llm_batch" => new QueryMix(llmQueries, inputs("docs"), out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, timed from JVM start: a ready session plus the workload's
    // one-time work.
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = session(out)
    val collector = new TaskCollector
    spark.sparkContext.addSparkListener(collector)
    w.setup(spark)
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9
    val host = Layers.host(spark)
    val tracer = new Tracer(spark.sparkContext, collector)
    val passes = Seq.newBuilder[Map[String, Any]]
    val ops = Seq.newBuilder[Op]
    def runPass(idx: Int, traced: Boolean): Unit = {
      tracer.on = traced
      val before = Jmx.snap(spark.sparkContext, collector)
      collector.takeStoredPeak()
      val t0 = System.nanoTime()
      val got = w.pass(spark, idx, tracer)
      val wall = System.nanoTime() - t0
      tracer.on = false
      val d = Jmx.snap(spark.sparkContext, collector) - before
      ops ++= got
      passes += Map("idx" -> idx, "wall_ns" -> wall, "traced" -> traced,
        "stored_peak_b" -> collector.takeStoredPeak(),
        "heap_live_mb" -> Jmx.heapLiveMb(),
        "counters" -> K.names.indices.map(i => K.names(i) -> d(i)).toMap)
    }
    // Traced runs alternate untraced and traced warm passes, at least
    // untraced-traced-untraced, so the tracing overhead is read within one
    // run against passes on both sides of a traced one (later passes run
    // warmer).
    runPass(0, traced = false)
    val warmStart = System.nanoTime()
    val minWarm = if (trace) 3 else 2
    var idx = 1
    while (idx <= minWarm || System.nanoTime() - warmStart < seconds * 1e9) {
      runPass(idx, traced = trace && idx % 2 == 0)
      idx += 1
    }
    ops ++= w.finish(spark)
    val failures = w.verify(spark)
    val layers = if (trace) Layers.all(spark, inputs, out, w.ticks) else Map.empty
    writeJson(s"$out/result.json", Map(
      "workload" -> workload, "ops_per_pass" -> w.opsPerPass,
      "setup_s" -> setupS, "host" -> host, "passes" -> passes.result(),
      "ops" -> ops.result().map(o => Map("pass" -> o.pass, "name" -> o.name,
        "ns" -> o.ns, "error" -> o.error)),
      "failures" -> failures.map { case (o, r) => Map("op" -> o, "reason" -> r) },
      "layers" -> layers))
    if (trace) writeJson(s"$out/trace.json", Map("spans" -> tracer.report,
      "ticks" -> w.ticks.map(t => Map("batch" -> t.batchId, "ms" -> t.durations))))
    spark.stop()
  }
}
