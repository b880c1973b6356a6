package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.DisplaySink
import graft.streaming.WeatherPipeline
import graft.streaming.WeatherPipeline.Frame
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The weather tick's filesystem path: no Hadoop shell forks per tick,
  * and a checkpoint that restarts exactly once, through the new path and
  * through stock Hadoop. */
class WeatherTickSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = "src/test/resources/weather"
  private def payload(n: String) = s"$fx/forecast_$n.json"
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  /** Process starts `body` causes whose stack runs through Hadoop's
    * `Shell`, from a JFR recording around it. */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("ticks", ".jfr")
    rec.dump(file)
    rec.close()
    RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq)
        .getOrElse(Nil).map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell")))
        Some(s"${e.getString("command")} <- ${frames.take(12).mkString(" < ")}")
      else None
    }
  }

  private def runTicks(paths: Seq[String], ckpt: String)
      (sink: Seq[Frame] => Unit): Unit = {
    val q = WeatherPipeline.run(spark, paths.mkString(","), "London",
      Trigger.ProcessingTime(0L), ckpt)(sink)
    try q.processAllAvailable() finally q.stop()
  }

  test("weather ticks fork no Hadoop shell: checkpoint logs and display sink") {
    // Shell's class initializer probes bash and setsid once per JVM; take
    // that one-time cost before recording
    Class.forName("org.apache.hadoop.util.Shell")
    val ticks = Seq("rain", "clear", "error", "missing", "rain", "clear").map(payload)
    val display = tmp("wx-display")
    val frames = new ConcurrentLinkedQueue[Frame]()
    val forks = shellForks {
      runTicks(ticks, tmp("wx-ckpt")) { fs =>
        frames.addAll(fs.asJava)
        DisplaySink.writeFrames(spark.createDataFrame(fs), display)
      }
    }
    assert(frames.size == ticks.size, frames)
    assert(forks.isEmpty, forks.mkString("\n"))
    assert(spark.read.parquet(display).count() == 1) // the last frame

    // the recording does see a Hadoop fork where one happens: stock
    // chmod forks on a host without libhadoop
    if (!NativeIO.isAvailable) {
      val raw = new RawLocalFileSystem
      raw.initialize(java.net.URI.create("file:///"), new Configuration())
      val f = java.nio.file.Files.createTempFile("chmod", "")
      val control = shellForks(raw.setPermission(new Path(f.toUri),
        new FsPermission(Integer.parseInt("640", 8).toShort)))
      assert(control.nonEmpty)
    }
  }

  test("restart through WeatherPipeline.run is exactly-once, and stock " +
      "Hadoop reads the checkpoint") {
    val ckpt = tmp("wx-restart")
    val seen = new ConcurrentLinkedQueue[String]()
    def key(f: Frame) = Option(f.footer).getOrElse(f.description)
    val four = Seq("clear", "rain", "missing", "error").map(payload)

    runTicks(four.take(3), ckpt)(fs => fs.foreach(f => seen.add(key(f))))
    assert(seen.asScala.toSeq ==
      Seq("Updated 14:40", "Updated 14:30", "Updated 14:50"))
    runTicks(four, ckpt)(fs => fs.foreach(f => seen.add(key(f))))
    assert(seen.asScala.toSeq == Seq("Updated 14:40", "Updated 14:30",
      "Updated 14:50", "Error: HTTP 503: service unavailable"))

    // a stream on stock Hadoop defaults resumes from that checkpoint at
    // offset 4, reading the offset and commit logs written above
    assert(spark.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    val stock = spark.readStream.format("weather-json")
      .option("endpoint", "forecast")
      .option("path", (four :+ payload("rain")).mkString(","))
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("current.time").collect().foreach(r => seen.add(r.getString(0)))
      }
      .start()
    try stock.processAllAvailable() finally stock.stop()
    assert(seen.asScala.toSeq.drop(4) == Seq("2026-08-12T14:30"))

    // and stock LocalFs verifies every log entry against its .crc
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    for (log <- Seq("offsets", "commits"); b <- 0 to 4) {
      // with a buffer size, FileContext reads through LocalFs's checksums
      val in = fc.open(new Path(s"file://$ckpt/$log/$b"), 4096)
      try assert(new String(in.readAllBytes(), "UTF-8").startsWith("v1"), s"$log/$b")
      finally in.close()
    }
  }
}
