package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Shared table loaders and oracle-safe expression helpers.
  *
  * Determinism rules (SURVEY.md §7.3): every contract query ends in a
  * total-order sort; money/double aggregations go through integer cents;
  * timestamps leave the engine as formatted strings so Spark (µs) and
  * DuckDB (ns) agree.
  */
object Core {
  /** Driver contract query type: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Read one table of an sf dir. `parallelScan` opts this one read into
    * [[scanParallel]]'s round-robin floor even when `name` is not in
    * [[ScanParallelTables]] — a per-call choice, so no other query on
    * the session sees it. */
  def table(s: SparkSession, dir: String, name: String,
      parallelScan: Boolean = false): DataFrame = {
    // events.ts normalization — the generator has shipped it as parquet
    // TIMESTAMP(NANOS) (which Spark reads as a raw long under the
    // legacy conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (which Spark reads as TIMESTAMP_NTZ). Normalize both to the
    // session-zoned TimestampType the engine computes on: nanos long →
    // integer DIV 1000 (exact, the same truncation DuckDB's epoch_us
    // applies, SURVEY.md §7.3d); NTZ → cast, which under the harness's
    // UTC session timezone is a wall-time identity — exactly how the
    // DuckDB oracle reads the same column.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val raw = s.read.parquet(path)
    val normalized = if (name == "events") raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    else raw
    scanParallel(s, normalized, path, name, parallelScan)
  }

  /** Tables whose every read takes the scan-parallelism floor, and the
    * floor's byte gates over a table's parquet leaves (see
    * [[scanParallel]]). */
  val ScanParallelTables: Set[String] = Set("documents")
  val ScanParallelMinBytes: Long = 64L * 1024
  val ScanParallelMaxBytes: Long = 32L * 1024 * 1024

  /** Scan-parallelism floor for small low-split inputs (optimization
    * guide §2.5 "input skew" / §6): a table whose parquet footprint
    * yields fewer scan splits than the session has cores serializes not
    * just the read but EVERY map-side operator up to the first exchange
    * — tokenize/explode, sketch hashing, vector decode — onto those few
    * tasks while the rest of the machine idles (measured: the sf0.1
    * single-file, single-row-group tables run their whole pre-exchange
    * segment on ONE task; a row-group-bounded file cannot be split by
    * `spark.sql.files.maxPartitionBytes`, so the fix must be an explicit
    * round-robin exchange after the read). The exchange is gated on the
    * DRIVER-SIDE file stat, so it exists only where it pays:
    *
    *  - total bytes >= `minBytes` ([[ScanParallelMinBytes]], 64 KB):
    *    dimension tables below it broadcast anyway, and an exchange
    *    there is pure stage overhead;
    *  - total bytes <= `maxBytes` ([[ScanParallelMaxBytes]], 32 MB):
    *    above it the natural splits already spread the scan,
    *    and repartitioning a large input is exactly the shuffle this
    *    engine spends its plans avoiding — at 100 TB the gate NEVER
    *    fires (inputs arrive as many >= 128 MB files) and the plan is
    *    byte-identical to the ungated read;
    *  - leaf file count < defaultParallelism / 2: a many-file directory
    *    (Scale's generated corpora) already scans wide;
    *  - table name ∈ [[ScanParallelTables]] (`documents`), or the
    *    caller opted this read in (`parallelScan`): the exchange pays
    *    only where the pre-exchange per-row work is heavy — the text corpus's tokenize/sketch/
    *    winnow/quality chains burn whole seconds single-threaded, while
    *    the relational tables' scan segments are cheap projections and
    *    the embeddings family runs many small bounded jobs (Lloyd
    *    rounds, probe builds) where an extra exchange per job is pure
    *    overhead. MEASURED both ways at sf0.1/local[32] (full 171-query
    *    bench, quiet floor-probe windows): ungated, the heavy text
    *    queries won 5.5/4.6/2.7/2.6 s (dedup_incremental,
    *    pipeline_dedup, dedup_cluster_cc, txt_langid_ngram) but the
    *    sub-1.5 s basket paid +29 s in aggregate and the embeddings
    *    family +8 s — net +11 s; gated to `documents` the wins stay and
    *    the tax goes (OPTIMIZATION_r17.md).
    *
    * Round-robin (`repartition(n)`) rather than a key: even spread with
    * no key-skew risk, and deterministic under retries because Spark
    * local-sorts before round-robin assignment (SPARK-23207, on by
    * default). Row content is untouched and every contract query ends
    * in a total-order sort, so results are unchanged (oracle-verified).
    * Lazy: the file stat is bounded driver IO at plan build (the
    * corpusTag convention), no job runs (LazinessSpec).
    */
  private[graft] def scanParallel(s: SparkSession, df: DataFrame,
      path: String, name: String, parallelScan: Boolean = false,
      minBytes: Long = ScanParallelMinBytes,
      maxBytes: Long = ScanParallelMaxBytes): DataFrame = {
    if (!parallelScan && !ScanParallelTables.contains(name)) return df
    val n = s.sparkContext.defaultParallelism
    try {
      def leaves(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(leaves)
      // only parquet leaves count toward the gates (ADVICE r17):
      // sidecars (_SUCCESS, .crc) are not scannable bytes
      val ls = leaves(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
      val total = ls.map(_.length).sum
      if (n > 1 && total >= minBytes && total <= maxBytes && ls.size < n / 2)
        df.repartition(n)
      else df
    } catch {
      case scala.util.control.NonFatal(_) => df // stat failure ⇒ plain read
    }
  }

  /** Mark a multiply-referenced subplan as compute-once. Catalyst does
    * not common-subexpression-eliminate repeated subplans, so an
    * iterative/unrolled plan (label propagation, Lloyd rounds, prefix
    * self-joins) re-executes the shared relation through lineage on
    * every reference — at 100 TB that is re-reading the corpus once per
    * round. `persist` only MARKS the plan (no job is scheduled, build
    * stays lazy — LazinessSpec), and the first action materializes the
    * relation once; every later reference is a cache read. MEMORY_AND_DISK
    * spills instead of recomputing under pressure, the right level for
    * executor-sized intermediates.
    *
    * Every `shared` relation is also registered so [[releaseShared]]
    * can drop them after the consuming action: a persisted plan that is
    * never unpersisted outlives its query, and a session composing many
    * queries (a library user, the Verify/Bench harnesses, a Profile
    * sweep) would otherwise accumulate dead cached relations until
    * memory pressure degrades every later plan.
    */
  def shared(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    sharedRegistry.add(p)
    p
  }

  private val sharedRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every relation [[shared]] has registered since the last
    * release — the per-query cache scope. Call after the action that
    * consumes a query's result (Verify's write, Bench/Profile's sink);
    * between queries the cache manager is then empty of graft-created
    * entries. Unpersisting an already-unpersisted plan is a no-op, so
    * utilities that manage their own lifecycle (the eager CC loop, which
    * frees its own superseded label checkpoints) compose safely.
    * Non-blocking: eviction proceeds while the next query plans.
    */
  def releaseShared(): Unit = {
    var df = sharedRegistry.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = sharedRegistry.poll()
    }
  }

  /** Run `body` with a session conf pinned to `value`, restoring the
    * previous setting (or unsetting) afterwards — the scope for
    * build-time job sequences that want a non-default conf without
    * leaking it into the session (e.g. the global CC chain disables
    * AQE for its fixed-shape label-join segments: every segment's
    * strategy is already pinned by explicit repartition + shuffle_hash
    * hints, so adaptive re-optimization buys nothing and its per-stage
    * driver re-planning was the measured dominant cost of the chain —
    * docs/PLANS.md round 12). Not re-entrancy-safe across threads: the
    * conf is session-global while `body` runs, which is the existing
    * single-driver execution model of the contract harnesses. */
  def withConf[T](s: SparkSession, key: String, value: String)
      (body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Hadoop keys that bind the `file:` scheme to the fork-free local
    * filesystem (LocalFs.scala), for both Hadoop APIs. The FileSystem
    * cache keys on scheme and user, not class, so a `fs.file.impl`
    * override needs `disable.cache` or the cached default instance
    * answers instead. Other schemes are untouched. */
  val forkFreeLocalFs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Exact money arithmetic: double -> integer cents. Test values carry
    * <= 2 decimals, so x*100 is within ~1e-10 of an integer and rounding
    * is unambiguous in both Spark and DuckDB; summing longs is exact and
    * associative (shuffle-order independent, unlike double sums).
    */
  def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** events-as-weather-observations: `props.k` is the WMO-style code
    * (0..99), `value` the temperature reading, `ts` the observation time.
    * Mirrors the forecast record shape of /root/reference/weather.py:73-85.
    */
  def observations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").withColumn(
      "code",
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k"))

  /** Python's `"{:.0f}".format(x)` exactly: round-half-even via bround,
    * plus the "-0" output Python produces for x in [-0.5, -0) (Spark's
    * bround goes through BigDecimal, which has no negative zero). */
  def pyFmt0f(c: Column): Column =
    when(c < 0 && bround(c) === 0.0, lit("-0"))
      .otherwise(format_string("%.0f", bround(c)))

  /** ISO-8601 to minute precision, the reference's `current.time` format
    * ("YYYY-MM-DDTHH:MM", /root/reference/weather.py:77,306). */
  def isoMin(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm")

  /** DuckDB-side equivalents, kept adjacent so Spark/SQL stay in sync. */
  val isoMinSql: String => String = c => s"strftime($c, '%Y-%m-%dT%H:%M')"
  val kSql: String = "CAST(json_extract_string(props, '$.k') AS INTEGER)"

  /** Fingerprint of a testdata corpus: a hash over the (name, size)
    * pairs of the dir's parquet files. The driver REGENERATES
    * /root/testdata between rounds (observed round 7: events.ts
    * changed physical type and the dedup family's density moved);
    * every timing history (bench medians, scale sweeps) keys on this
    * tag so numbers measured against data that no longer exists can't
    * poison tripwires or growth gates. File sizes are a content proxy:
    * deterministic generation ⇒ same bytes ⇒ same sizes, and any
    * content change at these row counts moves parquet sizes. */
  def corpusTag(dir: String): String = {
    try {
      val entries = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // an empty/missing dir must not hash to a CONSTANT: two broken
      // dirs would share a tag and their histories would cross-match
      if (entries.isEmpty) throw new IllegalStateException(s"no parquet in $dir")
      def leaves(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(leaves)
      val fs = entries.map { e =>
        if (e.isFile) s"${e.getName}:${e.length}" // driver-written flat files:
          // digest unchanged since round 7 so the tagged history stays valid;
          // deterministic generation ⇒ same bytes ⇒ same sizes
        else {
          // Spark-written parquet DIRECTORIES: File.length on a dir is
          // filesystem-dependent — walk the leaves and fold size + mtime
          // so a size-coincident rewrite still moves the tag (ADVICE r7)
          val ls = leaves(e)
          s"${e.getName}:${ls.map(_.length).sum}:" +
            s"${if (ls.isEmpty) 0L else ls.map(_.lastModified).max}"
        }
      }.mkString(",")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(fs.getBytes("UTF-8"))
      md.take(4).map(b => f"$b%02x").mkString
    } catch { case _: Throwable =>
      // NEVER-EQUAL failure value (ADVICE r7): a constant "unknown"
      // silently re-enabled cross-corpus median matching between any
      // two failure cases; a per-call unique tag instead finds no
      // history rows, so tripwires/medians just stay quiet
      s"unknown-${java.util.UUID.randomUUID().toString.take(8)}"
    }
  }
}
