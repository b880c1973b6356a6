package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.Core
import graft.operators._
import graft.sources.DisplaySink
import graft.streaming.WeatherPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One timed operation: a query (batch workloads) or a micro-batch tick
  * (stream workloads). `error` is null when the op succeeded. */
final case class Op(pass: Int, name: String, ns: Long, error: String = null)

/** A workload: a one-time setup, a fixed unit of work (a pass) made of
  * ops, and an untimed check of the outputs. */
trait Workload {
  def opsPerPass: Int
  def setup(s: SparkSession): Unit
  /** Runs pass `idx`; returns the ops it could time itself. */
  def pass(s: SparkSession, idx: Int, tr: Tracer): Seq[Op]
  /** Ops timed from listener events, known once the workload stopped. */
  def finish(s: SparkSession): Seq[Op] = Nil
  /** Checks the outputs; returns (op name, reason) per wrong output. */
  def verify(s: SparkSession): Seq[(String, String)]
  /** Stream records (per tick durations) for the per-layer report. */
  def ticks: Seq[Tick] = Nil
}

object Workloads {
  def module(q: String): String =
    Seq("ReferenceOps" -> ReferenceOps.queries, "RelationalOps" ->
      RelationalOps.queries, "SqlSuite" -> SqlSuite.queries, "TextOps" ->
      TextOps.queries, "DedupOps" -> DedupOps.queries, "SimilarityOps" ->
      SimilarityOps.queries, "MultimodalOps" -> MultimodalOps.queries)
      .collectFirst { case (m, qs) if qs.contains(q) => m }.getOrElse("other")
}

/** Contract queries run one after another; each op builds the query
  * through its operator module and runs it into Spark's no-op sink. The
  * verify pass writes each result as parquet for the DuckDB oracle. */
final class QueryMix(queries: Seq[String], dir: String, out: String)
    extends Workload {
  def opsPerPass: Int = queries.size
  def setup(s: SparkSession): Unit = ()

  def pass(s: SparkSession, idx: Int, tr: Tracer): Seq[Op] = queries.map { q =>
    val t0 = System.nanoTime()
    val err = try {
      tr.op(s"op:$q") {
        val df = tr.span(s"operators.${Workloads.module(q)}.build") {
          SparkEntry.queries(q)(s, dir)
        }
        tr.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
        tr.span("core.release")(Core.releaseShared())
      }
      null
    } catch {
      case e: Throwable =>
        Core.releaseShared()
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    Op(idx, q, System.nanoTime() - t0, err)
  }

  def verify(s: SparkSession): Seq[(String, String)] = {
    val failures = queries.flatMap { q =>
      try {
        SparkEntry.queries(q)(s, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/verify/$q")
        None
      } catch {
        case e: Throwable => Some(q -> s"verify run failed: ${e.getMessage}".take(300))
      } finally Core.releaseShared()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Main.writeJson(s"$out/verify/oracle_sql.json", oracle)
    failures
  }
}

/** The reference pipeline as a closed loop: one stream, one forecast
  * payload per tick, each tick rendered and written through the display
  * sink. The sink runs on the stream's thread; the harness thread waits
  * while a pass runs, so the two never trace at once. The sink blocks at
  * the end of every pass so the harness can take its pass-boundary
  * readings; no tick is timed across that wait. */
final class WeatherLoop(dir: String, out: String, ticksPerPass: Int)
    extends Workload {
  import WeatherLoop._
  def opsPerPass: Int = ticksPerPass
  private val payloads = new java.io.File(s"$dir/forecast").listFiles()
    .filter(_.getName.endsWith(".json")).map(_.getPath).sorted.toSeq
  private var title: String = _
  private var query: StreamingQuery = _
  private val frames = new ConcurrentHashMap[Long, Seq[WeatherPipeline.Frame]]()
  private val tickEnd = new ConcurrentHashMap[Long, Long]()
  private val resumed = new ConcurrentHashMap[Long, Long]()
  private var started = 0L
  private val boundary = new LinkedBlockingQueue[java.lang.Long]()
  private val resume = new LinkedBlockingQueue[Boolean]()
  private var waiting = false
  private var tickOpen = false
  private val collector = new TickCollector
  private var recorded: Seq[Tick] = Nil
  private var passesDone = 0
  private var last = 0L

  def setup(s: SparkSession): Unit = {
    val row = WeatherPipeline.geocodeTop1(s, s"$dir/geocode.json", "London", "GB")
    title = s"${row.getAs[String]("name")}, ${row.getAs[String]("admin1")}"
  }

  /** Delivers one tick's frame. Traced, a tick is one op span from the
    * previous delivery to this one (its jobs tagged with the span's group;
    * planning, render/collect and commits are its self time, split by the
    * tick's phase durations), with the display write as a child span. */
  private def sink(s: SparkSession, tr: Tracer)(fs: Seq[WeatherPipeline.Frame]): Unit = {
    val id = frames.size.toLong
    frames.put(id, fs)
    tr.span("sources.writeFrames") {
      DisplaySink.writeFrames(s.createDataFrame(fs), s"$out/display")
    }
    if (tickOpen) { tr.end(); tickOpen = false }
    tickEnd.put(id, System.nanoTime())
    if ((id + 1) % ticksPerPass == 0) {
      boundary.put(java.lang.Long.valueOf(id))
      resume.take()
      resumed.put(id, System.nanoTime())
    }
    if (tr.on) { tr.begin(s"tick-${id + 1}", op = true); tickOpen = true }
  }

  def pass(s: SparkSession, idx: Int, tr: Tracer): Seq[Op] = {
    if (query == null) {
      s.streams.addListener(collector)
      started = System.nanoTime()
      query = WeatherPipeline.run(s, payloads.mkString(","), title,
        Trigger.ProcessingTime(0L), s"$out/checkpoint")(sink(s, tr))
    }
    if (waiting) resume.put(true)
    val need = (idx + 1L) * ticksPerPass
    require(need <= payloads.size, s"weather_loop ran out of payloads at pass $idx")
    if (boundary.poll(120, TimeUnit.SECONDS) == null)
      throw new IllegalStateException(s"weather stream stalled: ${query.exception}")
    waiting = true
    passesDone = idx + 1
    Nil
  }

  /** A tick runs from the previous frame's delivery (or the end of the
    * pass-boundary wait, or the query start) to its own frame's delivery:
    * the closed loop's period, planning and commits included. */
  override def finish(s: SparkSession): Seq[Op] = {
    if (waiting) resume.put(true)
    query.stop()
    Jmx.drainBus(s.sparkContext)
    s.streams.removeListener(collector)
    last = passesDone.toLong * ticksPerPass
    recorded = collector.drainAll().filter(_.batchId < last)
    (0L until last).map { id =>
      val from = if (id == 0) started else resumed.getOrDefault(id - 1, tickEnd.get(id - 1))
      Op((id / ticksPerPass).toInt, s"tick-$id", tickEnd.get(id) - from)
    }
  }

  override def ticks: Seq[Tick] = recorded

  def verify(s: SparkSession): Seq[(String, String)] =
    frames.asScala.toSeq.filter(_._1 < last).sortBy(_._1).flatMap { case (id, fs) =>
      val want = expected(title, payloads(id.toInt))
      if (fs == Seq(want)) None
      else Some(s"tick-$id" -> s"frame $fs, expected $want")
    }
}

object WeatherLoop {
  private val wmo = Map(0 -> "Clear", 1 -> "Mainly clear",
    2 -> "Partly cloudy", 3 -> "Overcast", 45 -> "Fog", 48 -> "Rime fog",
    51 -> "Light drizzle", 53 -> "Drizzle", 55 -> "Heavy drizzle",
    61 -> "Light rain", 63 -> "Rain", 65 -> "Heavy rain", 71 -> "Light snow",
    73 -> "Snow", 75 -> "Heavy snow", 80 -> "Rain showers",
    81 -> "Rain showers", 82 -> "Violent showers", 95 -> "Thunderstorm")
  private val icons = Seq("sun" -> Set(0, 1), "cloud" -> Set(2, 3),
    "fog" -> Set(45, 48), "rain" -> Set(51, 53, 55, 61, 63, 65, 80, 81, 82),
    "snow" -> Set(71, 73, 75), "storm" -> Set(95))

  /** The frame the display must show for one payload, derived here from
    * the payload alone: half-even whole-degree temperature, the WMO text
    * or "Code N", the first rain chance, the last five characters of the
    * update time, and the error frame for an error payload. */
  def expected(title: String, path: String): WeatherPipeline.Frame = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    if (root.has("error"))
      return WeatherPipeline.Frame(title, "--",
        s"Error: HTTP ${root.get("status").asInt}: ${root.get("reason").asText}",
        "unknown", null, null)
    val cur = root.get("current")
    val code = cur.get("weather_code").asInt
    val temp = Option(cur.get("temperature_2m")).map { t =>
      val r = new java.math.BigDecimal(t.asDouble)
        .setScale(0, java.math.RoundingMode.HALF_EVEN)
      (if (t.asDouble < 0 && r.signum == 0) "-0" else r.toPlainString) + "°"
    }.getOrElse("--")
    val rain = Option(root.get("daily"))
      .flatMap(d => Option(d.get("precipitation_probability_max")))
      .filter(_.size > 0).map(a => s"Chance of rain: ${a.get(0).asInt}%")
    val time = Option(cur.get("time")).map(_.asText).getOrElse("")
    WeatherPipeline.Frame(title, temp, wmo.getOrElse(code, s"Code $code"),
      icons.collectFirst { case (i, cs) if cs(code) => i }.getOrElse("unknown"),
      rain.orNull, if (time.nonEmpty) s"Updated ${time.takeRight(5)}" else null)
  }
}
