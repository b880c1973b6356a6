package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Core

/** The scan-parallelism floor (Core.scanParallel, optimization round
  * 17): a small single-row-group parquet table serializes its whole
  * pre-exchange segment onto the few natural scan splits, so
  * Core.table inserts one round-robin exchange — but ONLY inside its
  * gates (table allow-list, byte caps), because the exchange is pure
  * overhead where the downstream per-row work is cheap (measured on
  * the full bench: OPTIMIZATION_r17.md). These tests pin the gates. */
class CoreScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def hasRoundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")

  /** Core.scanParallel over a plain read of `name`, with the byte gates
    * pinned by the caller so no assertion depends on the generated
    * corpus's file sizes. */
  private def scan(name: String, parallelScan: Boolean = false,
      minBytes: Long = Core.ScanParallelMinBytes,
      maxBytes: Long = Core.ScanParallelMaxBytes) = {
    val path = s"$dir/$name.parquet"
    Core.scanParallel(spark, spark.read.parquet(path), path, name,
      parallelScan, minBytes, maxBytes)
  }

  test("a table under the byte floor gets no exchange") {
    // the floor sits above any plausible file size
    assert(!hasRoundRobin(scan("documents", minBytes = 1L << 40)),
      "repartition fired below the byte floor")
  }

  test("named table over the byte floor gets exactly one round-robin exchange; " +
      "other tables never do") {
    assert(hasRoundRobin(scan("documents", minBytes = 1)),
      "documents scan did not parallelize once over the byte floor")
    assert(!hasRoundRobin(scan("lineitem", minBytes = 1)),
      "a table outside Core.ScanParallelTables was repartitioned")
    assert(!hasRoundRobin(Core.table(spark, dir, "lineitem")),
      "Core.table repartitioned a table outside Core.ScanParallelTables")
    // a per-call opt-in (profile_table's orders read) takes the floor
    // without touching the allow-list
    assert(hasRoundRobin(scan("orders", parallelScan = true, minBytes = 1)),
      "an opted-in read did not parallelize over the byte floor")
  }

  test("the large-input cap disables the exchange (the 100 TB regime: " +
      "natural splits already scan wide)") {
    assert(!hasRoundRobin(scan("documents", minBytes = 1, maxBytes = 2)),
      "repartition fired past the byte cap")
  }

  test("result identity: the exchange moves rows, never changes them") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "lang", "source").collect()
        .map(_.toString).sorted
    val off = scan("documents", minBytes = 1L << 40)
    val on = scan("documents", minBytes = 1)
    assert(!hasRoundRobin(off) && hasRoundRobin(on))
    assert(rows(on).sameElements(rows(off)))
  }
}
