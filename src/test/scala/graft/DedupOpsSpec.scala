package graft

import graft.operators.{DedupOps, RelationalOps}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 guarantees for the dedup family and the as-of join:
  * lazy plan construction, bitmask/relational parity, the stop-shingle
  * document-frequency cap, banded-SimHash exactness, and the
  * join-free as-of plan. */
class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dedup_near/dedup_ngram plan construction runs no data-scan jobs") {
    // spark.read.parquet launches one footer-read job per table() call
    // for schema inference — the unavoidable cost of ANY lazy builder.
    // The round-1 defect was a full scan+explode+shuffle count() at
    // build time; assert build cost is now exactly the footer reads of
    // a trivially-lazy plan over the same table.
    def jobsDuring(f: => Unit): Int = {
      val t = spark.sparkContext.statusTracker
      val before = t.getJobIdsForGroup(null).length
      f
      t.getJobIdsForGroup(null).length - before
    }
    val perTable = jobsDuring {
      graft.core.Core.table(spark, TestSpark.sfDir, "documents")
        .select("doc_id")
    }
    val near = jobsDuring {
      DedupOps.queries("dedup_near")(spark, TestSpark.sfDir)
    }
    val ngram = jobsDuring {
      DedupOps.queries("dedup_ngram")(spark, TestSpark.sfDir)
    }
    assert(near <= perTable,
      s"dedup_near build ran $near jobs vs $perTable for a bare read")
    assert(ngram <= 2 * perTable, // reads documents twice (shingles+count)
      s"dedup_ngram build ran $ngram jobs vs $perTable for a bare read")
  }

  test("bitmask fast path == relational dedup_near on a small-vocab corpus") {
    val rel = DedupOps.dedupNearRelational(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val bit = DedupOps.dedupNearBitmask(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(rel.nonEmpty, "corpus should contain near-dup pairs")
    assert(rel == bit)
  }

  test("prefix-filtered join == unfiltered join, with fewer candidates") {
    val full = DedupOps.dedupNearRelational(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val pref = DedupOps.dedupNearPrefix(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(pref == full)
    // the prefix join touches strictly fewer (source, tok) rows than
    // the full token join: count candidate rows each way
    val toks = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val fullCand = toks.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = toks.join(df_, "tok")
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * 0.6) + 1)
    val prefCand = prefix.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(prefix.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(prefCand < fullCand,
      s"prefix filter did not reduce candidates: $prefCand vs $fullCand")
    // and no qualifying pair was lost (already implied by pref == full)
    assert(pref.nonEmpty)
  }

  test("bitmask path fails loudly past 63 distinct tokens") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString
    // 80-token vocabulary: the bitmask encoding cannot hold it
    (0 until 20).map(i =>
      (i.toLong, (0 until 4).map(j => s"tok${(i * 4 + j) % 80}")
        .mkString(" "), "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      DedupOps.dedupNearBitmask(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds 63 distinct tokens")), e)
  }

  test("dedup_ngram df cap: default does not bind on this corpus") {
    val capped = DedupOps.dedupNgram(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val uncapped = DedupOps.dedupNgram(spark, TestSpark.sfDir, maxDfFrac = 1.0)
      .collect().map(_.toSeq).toSeq
    assert(capped.nonEmpty)
    assert(capped == uncapped)
  }

  test("dedup_ngram df cap drops a synthetic ubiquitous shingle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hot").toString
    // every doc ends with the hot shingle "the end"; docs 0 and 1 are
    // additionally REAL near-dups (share the rare shingles p-q, q-r,
    // r-s) so a qualifying pair survives the cap — the cap must change
    // that pair's jaccard (hot shingle excluded from the universe)
    // without dropping it, and must not conjure pairs from the hot
    // shingle alone.
    val docs = (0 until 40).map { i =>
      val text =
        if (i == 0) "p q r s x the end"
        else if (i == 1) "p q r s y the end"
        else s"u$i v$i w$i the end"
      (i.toLong, text, "en", "web", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(frac: Double): Map[(Long, Long), Double] =
      DedupOps.dedupNgram(spark, dir, maxDfFrac = frac).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = pairs(1.0)
    val capped = pairs(0.5)
    // only the genuine near-dup pair qualifies either way; the hot
    // shingle alone (jaccard 1/7) never creates a pair
    assert(uncapped.keySet == Set((0L, 1L)), uncapped)
    assert(capped.keySet == Set((0L, 1L)), capped)
    // and the cap visibly binds: 4 shared / (6+6-4) = 0.5 uncapped vs
    // 3 shared / (5+5-3) ≈ 0.4286 over the capped shingle universe
    assert(uncapped((0L, 1L)) > capped((0L, 1L)))
    assert(math.abs(capped((0L, 1L)) - 3.0 / 7.0) < 1e-12)
    // bounded join size is observable on the candidate relation itself:
    // rebuild the pair-count stage with and without the cap
    def candidateRows(frac: Double): Long = {
      val ex = graft.core.Core.table(spark, dir, "documents")
        .withColumn("t", split(lower(col("text")), " "))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(expr(
            "transform(slice(t, 1, size(t) - 1), " +
              "(x, i) -> concat(x, ' ', t[i + 1]))"))).as("g"))
      val ndocs = graft.core.Core.table(spark, dir, "documents")
        .agg(count(lit(1)).as("ndocs"))
      val hot = ex.groupBy("g").agg(count(lit(1)).as("df"))
        .crossJoin(ndocs).filter(col("df") > col("ndocs") * frac).select("g")
      val kept = ex.join(broadcast(hot), Seq("g"), "left_anti")
      kept.select(col("source"), col("doc_id").as("a_id"), col("g"))
        .join(kept.select(col("source"), col("doc_id").as("b_id"), col("g")),
          Seq("source", "g"))
        .filter(col("a_id") < col("b_id"))
        .count()
    }
    // hot shingle alone contributes all C(40,2) join rows; docs 0/1's 3
    // rare shared shingles add 3 more
    assert(candidateRows(1.0) == 40L * 39 / 2 + 3)
    // cap: only the 3 rare shared shingles survive -> join bounded
    assert(candidateRows(0.5) == 3)
  }

  test("banded SimHash emits the identical pair set as all-pairs") {
    val banded = DedupOps.queries("dedup_simhash")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    // reference: all-pairs join over the same sketches
    val d = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source")
      .join(DedupOps.simhashSketches(spark, TestSpark.sfDir), "doc_id")
    val a = d.select(col("source"), col("doc_id").as("a_id"),
      col("simhash").as("a_sh"))
    val b = d.select(col("source"), col("doc_id").as("b_id"),
      col("simhash").as("b_sh"))
    val allPairs = a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= 10)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    assert(banded.nonEmpty)
    assert(banded == allPairs)
  }

  test("62-bit banded SimHash emits the identical pair set as all-pairs") {
    val banded = DedupOps.queries("dedup_simhash64")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val d = graft.core.Core.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source")
      .join(DedupOps.simhash64Sketches(spark, TestSpark.sfDir), "doc_id")
    val a = d.select(col("source"), col("doc_id").as("a_id"),
      col("simhash").as("a_sh"))
    val b = d.select(col("source"), col("doc_id").as("b_id"),
      col("simhash").as("b_sh"))
    val allPairs = a.join(b, Seq("source"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= DedupOps.Simhash64HammingMax)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    // the tight threshold must be SELECTIVE (strict subset of the loose
    // 31-bit pair set) yet non-degenerate on this near-dup corpus
    assert(banded.nonEmpty)
    assert(banded == allPairs)
    val loose = DedupOps.queries("dedup_simhash")(spark, TestSpark.sfDir)
      .count()
    assert(banded.size < loose)
  }

  test("GLOBAL banded SimHash: all-pairs-identical, strict superset of " +
    "within-source, and catches cross-source pairs") {
    val global = DedupOps.queries("dedup_simhash_global")(
        spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    // reference: source-blind all-pairs join over the same 62-bit
    // sketches
    val d = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val allPairs = d.select(col("doc_id").as("a_id"),
        col("simhash").as("a_sh"))
      .crossJoin(d.select(col("doc_id").as("b_id"),
        col("simhash").as("b_sh")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh")))
        .cast("int"))
      .filter(col("hamming") <= DedupOps.Simhash64HammingMax)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    assert(global.nonEmpty)
    assert(global == allPairs)
    // superset of the within-source listing over the same sketch, and
    // strictly larger: cross-source duplicates exist on this corpus
    // (the pairs the within-source contract bound cannot see)
    val within = DedupOps.queries("dedup_simhash64")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSet
    assert(within.subsetOf(global.toSet))
    assert(global.size > within.size,
      "no cross-source pair on this corpus — global scope untestable")
  }

  test("cluster label propagation converges within CcRounds on this corpus") {
    val rK = DedupOps.dedupClusterCC(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rK1 = DedupOps.dedupClusterCC(spark, TestSpark.sfDir,
        rounds = DedupOps.CcRounds + 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rK == rK1,
      s"round ${DedupOps.CcRounds + 1} changed labels: " +
        s"diameter > ${DedupOps.CcRounds}, raise CcRounds")
    // a real clustering: at least one non-singleton cluster, and every
    // cluster id is a member doc's id (the component minimum)
    assert(rK.values.toSet.size < rK.size)
    assert(rK.values.forall(c => rK.contains(c) && rK(c) == c))
  }

  test("prefix-filtered containment == unguarded directional join") {
    import graft.core.Core.table
    val toks = table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val unguarded = toks
      .select(col("source"), col("doc_id").as("a_id"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b_id"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("a_sz")),
        "a_id")
      .withColumn("containment", col("inter").cast("double") / col("a_sz"))
      .filter(col("containment") >= 0.9)
      .select("a_id", "b_id", "containment")
      .orderBy("a_id", "b_id")
      .collect().map(_.toSeq).toSeq
    val guarded = DedupOps.txtContainmentPrefix(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(guarded.nonEmpty)
    assert(guarded == unguarded)
  }

  test("txtContainmentAuto: df-skew rule picks count on dense, prefix on " +
    "skewed; branches result-identical on both corpora") {
    // Dense contract corpus: uniform vocabulary df, skew ~ 1 — the
    // count-join branch is optimal (output is ~n² rows; pruning can't
    // beat the output lower bound).
    val (denseBranch, denseDf) =
      DedupOps.txtContainmentAutoChoice(spark, TestSpark.sfDir)
    assert(denseBranch == "count", s"dense corpus chose $denseBranch")
    val denseRows = denseDf.collect().map(_.toSeq).toSeq
    assert(denseRows.nonEmpty)
    // the lazy contract form (guarded union, zero jobs at build) makes
    // the same choice at RUNTIME: identical rows
    assert(DedupOps.txtContainmentAuto(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq == denseRows)

    // Skewed corpus: one hot token in EVERY doc; doc 0 is fully
    // contained in doc 1 (plus one extra token) via rare tokens — the
    // prefix filter's home turf (the hot token never anchors a prefix).
    val dir = java.nio.file.Files.createTempDirectory("graft_cskew").toString
    import spark.implicits._
    val docs = (0 until 80).map { i =>
      val text =
        if (i == 0) "hot a0 b0 c0 d0"
        else if (i == 1) "hot a0 b0 c0 d0 e0"
        else s"hot u$i v$i w$i x$i"
      (i.toLong, text, "en", "web", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (skewBranch, skewDf) = DedupOps.txtContainmentAutoChoice(spark, dir)
    assert(skewBranch == "prefix", s"skewed corpus chose $skewBranch")
    val skewRows = skewDf.collect().map(_.toSeq).toSeq
    // result-identical to the count-join branch on the same corpus
    assert(skewRows ==
      DedupOps.txtContainmentCount(spark, dir).collect().map(_.toSeq).toSeq)
    // lazy contract form routes to the prefix regime here too
    assert(DedupOps.txtContainmentAuto(spark, dir)
      .collect().map(_.toSeq).toSeq == skewRows)
    // exactly the genuine containment: doc 0's 5 tokens all inside
    // doc 1 (containment 1.0); the reverse direction is 5/6 < 0.9 and
    // the hot token alone is 1/5 per pair
    assert(skewRows == Seq(Seq(0L, 1L, 1.0)), skewRows)
  }

  test("ccFixpoint is exact on long chains where the bounded unroll is not") {
    import spark.implicits._
    def chainEdges(ids: Seq[Long]): Seq[(Long, Long)] =
      ids.zip(ids.tail).flatMap { case (a, b) => Seq(a -> b, b -> a) }

    // Deterministic worst case: a diameter-8 path with ids ascending
    // away from the minimum. k propagate rounds move the min label k
    // hops, so the far end is provably unreached for k < 8.
    val path = (0L to 8L)
    val nodes = path.toDF("doc_id")
    val edges = chainEdges(path).toDF("n", "m")
    val bounded = DedupOps.ccFixpoint(nodes, edges, maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded(8L) != 0L,
      "3 bounded rounds unexpectedly merged a diameter-8 chain")
    val (exactDf, rounds) = DedupOps.ccFixpointWithRounds(nodes, edges)
    val exact = exactDf
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.values.forall(_ == 0L),
      s"fixpoint under-merged the chain: $exact")
    // rounds-to-convergence is exactly diameter + 1: the min label
    // travels one hop per round (8 hops to the far end), plus the final
    // no-change round that certifies the fixpoint
    assert(rounds == 9, s"diameter-8 chain converged in $rounds rounds")

    // Randomized: multi-component corpora of permuted-id chains
    // (diameter up to 12) must match brute-force union-find exactly.
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val comps = (0 until 4).map(_ => rnd.nextInt(12) + 2)
      val ids = rnd.shuffle((0L until comps.sum.toLong).toList)
      val chains = comps.foldLeft((List.empty[Seq[Long]], ids)) {
        case ((acc, rest), n) => (acc :+ rest.take(n), rest.drop(n))
      }._1
      val es = chains.flatMap(chainEdges)
      val ns = chains.flatten.toDF("doc_id")
      val got = DedupOps.ccFixpoint(ns, es.toDF("n", "m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = chains.flatMap(c => c.map(_ -> c.min)).toMap
      assert(got == want, s"fixpoint != union-find on chains $chains")
    }
  }

  test("doubled CC: reach doubles per (P,S) pair on a monotone chain") {
    // the StarCcPairs geometry evidence: on a 64-node path with ids
    // ascending away from the minimum, plain propagation needs 63
    // rounds (one hop per round), while the (propagate, shortcut)
    // schedule doubles covered distance per pair — so the fixpoint
    // arrives in ~log2(63) pairs. (The adversarial SHUFFLED-id chain
    // was measured too: 17 pairs vs 37 plain rounds at 64 nodes — a
    // constant ~2.2x, which is why StarCcPairs documents "half the
    // edge joins", not O(log d); that slow measurement isn't re-run
    // here.) Also pins exactness: the doubled labels must equal the
    // known component minimum everywhere.
    import spark.implicits._
    val n = 64L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val (labels, pairs) =
      DedupOps.ccDoubledFixpointWithPairs(nodes, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.forall(_._2 == 0L), "doubled CC under-merged the chain")
    assert(pairs <= 8,
      s"expected ~log2(63)+cert pairs on a monotone 64-chain, got $pairs")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop frees superseded checkpoint blocks (ADVICE r12)") {
    // freeLocalCheckpoint must actually release a local checkpoint's
    // storage, and the (P,S) loop must not retain one block set per
    // segment × jump: after a multi-segment run, the persisted-RDD
    // registry should hold only O(1) relations (the returned labels;
    // anything the loop freed is gone), not the ~(jumps+1)·segments
    // intermediates the round-12 loop kept alive until GC.
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // direct check of the helper's release-vs-no-op contract
    val ck = (0L until 100L).toDF("doc_id").localCheckpoint()
    val ckIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(ckIds.nonEmpty, "localCheckpoint should register a persisted RDD")
    DedupOps.freeLocalCheckpoint(ck)
    // non-checkpoint plans are a no-op, never a crash
    DedupOps.freeLocalCheckpoint((0L until 3L).toDF("doc_id"))
    // The persisted-RDD registry holds its RDDs weakly, so a GC during
    // a loop would hide a leak; a listener pins every registered RDD at
    // each job boundary, so only an explicit unpersist takes one out.
    // Returns the persisted RDDs `body` left registered.
    def retainedBy[T](body: => T): (T, Set[Int]) = {
      val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
      val pin = new org.apache.spark.scheduler.SparkListener {
        private def pinAll(): Unit =
          spark.sparkContext.getPersistentRDDs.values.foreach(pinned.add)
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          pinAll()
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          pinAll()
      }
      val before = spark.sparkContext.getPersistentRDDs.keySet
      spark.sparkContext.addSparkListener(pin)
      val out = try body finally spark.sparkContext.removeSparkListener(pin)
      val after = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      pinned.clear()
      (out, after)
    }
    // loop-level: a 64-chain runs ~7 segments × (1+jumps) checkpoints
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val ((labels, pairs), after) =
      retainedBy(DedupOps.ccDoubledFixpointWithPairs(nodes, edges))
    labels.collect()
    // retained: the returned labels' checkpoint (1) plus any unpersist
    // still in flight (non-blocking) — far below one per step
    assert(pairs >= 5, s"chain should need multiple segments, got $pairs")
    assert(after.size <= 3,
      s"expected <=3 retained checkpoint RDDs after the loop " +
        s"(returned labels + in-flight), got ${after.size}")
    graft.core.Core.releaseShared()
    // the plain-propagation fixpoint runs the same loop: a 12-chain
    // needs one round per hop, and its superseded round labels must be
    // freed too, not kept one checkpoint per round
    val chain = (0L until 12L).toDF("doc_id")
    val chainEdges = (0L until 11L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val ((fixLabels, rounds), after2) =
      retainedBy(DedupOps.ccFixpointWithRounds(chain, chainEdges))
    assert(fixLabels.collect().forall(_.getLong(1) == 0L),
      "fixpoint under-merged the chain")
    assert(rounds >= 8, s"chain should need >= 8 rounds, got $rounds")
    assert(after2.size <= 3,
      s"expected <=3 retained checkpoint RDDs after $rounds fixpoint " +
        s"rounds (returned labels + in-flight), got ${after2.size}")
    val views = spark.catalog.listTables(
      spark.conf.get("spark.sql.globalTempDatabase", "global_temp"))
      .collect().map(_.name).filter(_.startsWith("graft_cc_"))
    assert(views.isEmpty, s"CC loop left global temp views: ${views.toSeq}")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop sizes its loop parallelism to the measured input rows, " +
      "saturates to the session count, and restores the caller's conf " +
      "(optimization r17)") {
    import spark.implicits._
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // ~190 loop rows, 2M-row default budget -> the loop runs at ONE
    // partition instead of the session's count
    val small = DedupOps.ccDoubled(nodes, edges, 17)
    assert(small.rdd.getNumPartitions == 1,
      s"a 190-row loop should derive 1 partition, " +
        s"got ${small.rdd.getNumPartitions}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "ccPsLoop leaked its derived partition count into the session")
    // a 1-row budget saturates the formula at the configured count —
    // the deployment regime, where the plan is unchanged
    val wide = graft.core.Core.withConf(spark,
        "spark.graft.cc.rowsPerPartition", "1") {
      DedupOps.ccDoubled(nodes, edges, 17)
    }
    assert(wide.rdd.getNumPartitions == before.toInt,
      s"row counts past the budget must saturate to the session count")
    // labels are partitioning-independent: identical either way
    assert(small.orderBy("doc_id").collect()
      .sameElements(wide.orderBy("doc_id").collect()),
      "loop parallelism changed the CC labels")
    graft.core.Core.releaseShared()
  }

  test("ccPsLoop folds the certificate into the checkpoint job and " +
      "certifies the same fixpoint (optimization r18)") {
    import spark.implicits._
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = (0L until 63L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val o0 = DedupOps.ccCertObserved.get()
    val f0 = DedupOps.ccCertFallback.get()
    val (labels, pairs) = DedupOps.ccDoubledFixpointWithPairs(nodes, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.forall(_._2 == 0L), "folded certificate changed the labels")
    assert(pairs <= 8, s"fixpoint detection drifted: $pairs segments")
    val obs = DedupOps.ccCertObserved.get() - o0
    val fb = DedupOps.ccCertFallback.get() - f0
    assert(obs + fb >= pairs,
      s"every segment must be certified: observed=$obs fallback=$fb " +
        s"pairs=$pairs")
    // the metrics ride the checkpoint job on this Spark build; if a
    // future build stops reporting them the loop degrades loudly here
    // (and quietly at runtime, to the explicit-aggregate schedule)
    assert(obs > 0,
      s"observed-metrics certificate never fired (fallback=$fb) — the " +
        "fold is dead code on this build; revert to the aggregate")
    graft.core.Core.releaseShared()
  }

  test("as-of join: no Join node, single window, parity with join form") {
    val df = RelationalOps.queries("join_range_asof")(spark, TestSpark.sfDir)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, "as-of rewrite must not contain a join")

    // parity vs the classic join+row_number formulation
    val e = graft.core.Core.table(spark, TestSpark.sfDir, "events")
      .withColumn("us", unix_micros(col("ts")))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user_id"), col("us").as("click_us"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_us").desc, col("click_id").desc)
    val joined = p.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_us") <= col("purchase_us"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("purchase_id", "purchase_us", "click_id", "click_us")
      .orderBy("purchase_id")
      .collect().map(_.toSeq).toSeq
    val unioned = df.collect().map(_.toSeq).toSeq
    assert(unioned.nonEmpty)
    assert(unioned == joined)
  }

  test("dedupNearAuto: df-skew rule picks count on uniform, prefix on " +
    "skewed; branches result-identical on both corpora") {
    // Uniform contract corpus: every token is vocabulary-frequent, so
    // median(df)/max(df) ~ 1 and the count-join branch wins.
    val (uniformBranch, uniformDf) =
      DedupOps.dedupNearAutoChoice(spark, TestSpark.sfDir)
    assert(uniformBranch == "count", s"uniform corpus chose $uniformBranch")
    val uniformRows = uniformDf.collect().map(_.toSeq).toSeq
    assert(uniformRows ==
      DedupOps.dedupNearPrefix(spark, TestSpark.sfDir)
        .collect().map(_.toSeq).toSeq)
    assert(uniformRows.nonEmpty)
    // the lazy contract form (guarded union, zero jobs at build —
    // LazinessSpec) makes the same choice at RUNTIME: identical rows
    assert(DedupOps.dedupNearAuto(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq == uniformRows)

    // Skewed corpus: one hot token in EVERY doc, rare tokens anchoring
    // the one true near-dup pair — the prefix filter's home turf.
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    val docs = (0 until 80).map { i =>
      val text =
        if (i == 0) "hot a0 b0 c0 d0"
        else if (i == 1) "hot a0 b0 c0 e0"
        else s"hot u$i v$i w$i x$i"
      (i.toLong, text, "en", "web", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (skewBranch, skewDf) = DedupOps.dedupNearAutoChoice(spark, dir)
    assert(skewBranch == "prefix", s"skewed corpus chose $skewBranch")
    val skewRows = skewDf.collect().map(_.toSeq).toSeq
    assert(skewRows ==
      DedupOps.dedupNearRelational(spark, dir).collect().map(_.toSeq).toSeq)
    // lazy contract form routes to the prefix regime on this corpus too
    assert(DedupOps.dedupNearAuto(spark, dir)
      .collect().map(_.toSeq).toSeq == skewRows)
    // only the genuinely-similar pair qualifies (jaccard 4/6)
    assert(skewRows.map(r => (r.head, r(1))) == Seq((0L, 1L)))

    // and on THIS corpus the prefix actually prunes: the hot token
    // (most frequent, so never in any rarest-token prefix) would alone
    // contribute all-pairs 80*79/2 candidate pairs to the full join;
    // the prefix join's candidates collapse to the rare-token matches.
    val toks = graft.core.Core.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val fullCand = toks.select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(toks.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val df_ = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w2 = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = toks.join(df_, "tok")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * 0.6) + 1)
    val prefCand = prefix
      .select(col("source"), col("doc_id").as("a"), col("tok"))
      .join(prefix.select(col("source"), col("doc_id").as("b"), col("tok")),
        Seq("source", "tok"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(fullCand == 80L * 79 / 2, s"hot token should pair everyone: $fullCand")
    assert(prefCand == 1L, s"prefix candidates should collapse: $prefCand")
  }

  test("source overlap top-V cap: exact at V >= vocab, bounded below it") {
    val dir = TestSpark.sfDir
    // V past the corpus's whole vocabulary: the cap selects every
    // (source, token) pair the exact query pairs on, so the capped
    // operator IS the exact one — the agreement that licenses swapping
    // it in at scale
    val exact = SparkEntry.queries("txt_source_overlap")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val wide = graft.operators.DedupOps.sourceJaccardTopV(spark, dir, 1000)
      .collect().map(_.toSeq).toSeq
    assert(wide == exact)
    // the contract V = 10 genuinely prunes: every capped vocabulary is
    // exactly V (each source has >= V distinct tokens here), so the
    // join input is sources x V regardless of corpus vocabulary
    val capped = SparkEntry.queries("txt_source_overlap_topv")(spark, dir)
      .collect()
    assert(capped.nonEmpty)
    capped.foreach { r =>
      assert(r.getLong(3) == graft.operators.DedupOps.SourceOverlapTopV
        && r.getLong(4) == graft.operators.DedupOps.SourceOverlapTopV)
      assert(r.getLong(2) <= graft.operators.DedupOps.SourceOverlapTopV)
    }
  }

  test("comboJoin is pigeonhole-exact and exactly-once on adversarial " +
    "sketches (planted boundary pairs + random corpus vs brute force)") {
    // the 62/6 split is 11,11,10,10,10,10-bit blocks at offsets
    // 0,11,22,32,42,52 — plant pairs whose differing bits land in
    // EXACTLY hammingMax distinct blocks (the pigeonhole boundary:
    // they agree on exactly blocks-hammingMax blocks, so exactly ONE
    // combination key catches them), pairs differing inside one block,
    // a Hamming-4 pair that must be filtered even when it collides,
    // and multi-combo pairs that must surface exactly once
    val base = 0x2AB54FF00123456L // arbitrary 62-bit value
    val planted = Seq(
      base,
      base ^ (1L << 0) ^ (1L << 11) ^ (1L << 22), // blocks {0,1,2}, ham 3
      base ^ (1L << 61),                          // block {5}, ham 1
      base ^ (1L << 0) ^ (1L << 1) ^ (1L << 11) ^ (1L << 22), // ham 4 vs base
      base ^ (1L << 10) ^ (1L << 21) ^ (1L << 31) // block-END bits {0,1,2}
    )
    val rnd = new scala.util.Random(11)
    // random corpus clustered around few centers so near pairs exist
    val centers = Seq.fill(8)(rnd.nextLong() & ((1L << 62) - 1))
    val randoms = Seq.fill(200) {
      val c = centers(rnd.nextInt(centers.size))
      (0 until rnd.nextInt(4)).foldLeft(c)((s, _) => s ^ (1L << rnd.nextInt(62)))
    }
    val all = (planted ++ randoms).zipWithIndex
      .map { case (sh, i) => (i.toLong, sh) }
    val df = all.toDF("doc_id", "simhash")
    val got = DedupOps.comboJoin(df, bits = 62, hammingMax = 3,
        blocks = DedupOps.Simhash64Blocks, pred = _ < _)
      .select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val want = for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)
    // exactly-once: no duplicate surviving pairs from multi-combo hits
    assert(got.length == got.distinct.length)
    assert(got.toSet == want.toSet)
    // the planted boundary pair and the in-block pair are present; the
    // Hamming-4 pair is not
    assert(got.toSet.contains((0L, 1L, 3)))
    assert(got.toSet.contains((0L, 2L, 1)))
    assert(!got.exists(p => p._1 == 0L && p._2 == 3L))
  }

  test("eager early-exit CC loop == full lazy bounded schedule") {
    // the round-12 contract path exits at the certified fixpoint; its
    // labels must equal the SAME-pair-count lazy schedule (the form
    // the DuckDB oracle unrolls) — post-fixpoint pairs are the
    // identity, so early exit is invisible in the answer. pairs = 6,
    // NOT StarCcPairs: the lazy comparison side doubles its analyzed
    // label subtree per pair (the ccDoubled scaladoc's 2^pairs plan
    // bloat — the very reason the contract path truncates), so the
    // 17-pair lazy tree does not finish analysis; a 17-node chain
    // converges within 6 (P,S) pairs and exercises the identity.
    import spark.implicits._
    val pairs = 6
    val nodes = (0L to 16L).toDF("doc_id")
    val edges = (0L until 16L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("n", "m")
    val eager = DedupOps.ccDoubled(nodes, edges, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Core.releaseShared()
    val lazyFull = DedupOps.ccDoubled(nodes, edges, pairs,
        truncate = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Core.releaseShared()
    assert(eager == lazyFull)
    assert(eager.values.forall(_ == 0L), "the 17-chain must fully merge")
  }

  test("comboJoin2 emits exactly the cross pairs of the self-join") {
    // the two-relation (batch x corpus) form must surface exactly the
    // left-right pairs the self-join over the union finds — no
    // within-side pairs, no misses, each pair once
    val rnd = new scala.util.Random(17)
    val centers = Seq.fill(6)(rnd.nextLong() & ((1L << 62) - 1))
    def jitter(c: Long) =
      (0 until rnd.nextInt(4)).foldLeft(c)((s, _) => s ^ (1L << rnd.nextInt(62)))
    val left = (0L until 60L).map(i =>
      (i, jitter(centers(rnd.nextInt(centers.size)))))
    val right = (1000L until 1120L).map(i =>
      (i, jitter(centers(rnd.nextInt(centers.size)))))
    val got = DedupOps.comboJoin2(left.toDF("doc_id", "simhash"),
        right.toDF("doc_id", "simhash"),
        bits = 62, hammingMax = 3, blocks = DedupOps.Simhash64Blocks)
      .select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val want = for {
      (ia, sa) <- left; (ib, sb) <- right
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)
    assert(got.length == got.distinct.length, "duplicate cross pairs")
    assert(got.toSet == want.toSet)
    graft.core.Core.releaseShared()
  }

  test("global top-K report == brute-force per-doc top-K on the corpus") {
    // the sketch-level pool pruning (topm + K+1 pool cut) must be
    // invisible in the answer: compare against per-doc brute force
    // over the collected sketches, including tie order (hamming, id)
    val k = DedupOps.SimhashTopK
    val sks = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.queries("dedup_simhash_topk")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty, "gate corpus has no near-dup neighbors at all")
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("global top-K report == brute force on a HUB sketch-degree corpus") {
    // round-12 verdict #5: the pool cut's exactness argument had only
    // been exercised on degree-benign sketch graphs. ScaleData's hub
    // generator (one template doc + token-edit variants) realizes a
    // heavy-tailed sketch-degree geometry — the (1 + degree)·(K+1)
    // pool-window input — at in-test size here; the Scale `topkhub`
    // census runs the same generator at 200k docs.
    val dir = java.nio.file.Files.createTempDirectory("graft_hub").toString
    ScaleData.hubDocsDf(spark, TestSpark.sfDir, nDocs = 1500,
        nVariants = 700, nSources = 10, variant = 11)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val k = DedupOps.SimhashTopK
    val sks = DedupOps.simhash64Sketches(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // the hub must have MATERIALIZED: some sketch value with many near
    // sketch VALUES (the degree term, not the same-sketch group size)
    val distinctSh = sks.map(_._2).distinct
    val maxDeg = distinctSh.map { sh =>
      distinctSh.count(o => o != sh &&
        java.lang.Long.bitCount(sh ^ o) <= DedupOps.Simhash64HammingMax)
    }.max
    assert(maxDeg >= 30,
      s"hub did not materialize: max sketch degree $maxDeg")
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.queries("dedup_simhash_topk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("top-K core == brute force on a PRESCRIBED-degree sketch hub") {
    // degree ≫ K by construction (500 distinct near values around one
    // template — text cannot realize this; see hubSketchesDf) so the
    // nearTop and pool K+1 cuts actually discard thousands of
    // candidates; any exactness error in either cut surfaces here
    val k = DedupOps.SimhashTopK
    val sk = ScaleData.hubSketchesDf(spark, hubDegree = 500,
      membersPerValue = 2, hubMembers = 300, nBackground = 1500)
    val sks = sk.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(sks.map(_._1).distinct.length == sks.length, "doc_id collision")
    val want = sks.flatMap { case (d, sh) =>
      sks.filter { case (o, osh) =>
          o != d && java.lang.Long.bitCount(sh ^ osh) <= DedupOps.Simhash64HammingMax }
        .map { case (o, osh) => (o, java.lang.Long.bitCount(sh ^ osh)) }
        .sortBy { case (o, h) => (h, o) }
        .take(k).zipWithIndex
        .map { case ((o, h), i) => (d, i + 1, o, h) }
    }.toSet
    val got = DedupOps.simhashTopKGlobalOf(sk)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want)
    graft.core.Core.releaseShared()
  }

  test("incremental CC update == full rebuild when a batch bridges two " +
    "existing clusters") {
    // corpus: two chain components {0..4} and {10..14}; batch doc 100
    // BRIDGES them (edges to 4 and 10), batch docs 101-102 form their
    // own new pair, 103 is isolated. The incremental update must land
    // every merged doc on the full-rebuild fixpoint label (the global
    // min doc id), without ever touching corpus x corpus edges.
    def sym(es: Seq[(Long, Long)]) = es.flatMap(e => Seq(e, e.swap))
    val corpusNodes = ((0L to 4L) ++ (10L to 14L)).toDF("doc_id")
    val corpusEdges = sym((0L until 4L).map(i => (i, i + 1)) ++
      (10L until 14L).map(i => (i, i + 1))).toDF("n", "m")
    val oldLabels = DedupOps.ccFixpoint(corpusNodes, corpusEdges)
    val batchNodes = Seq(100L, 101L, 102L, 103L).toDF("doc_id")
    val deltaEdges = sym(Seq((100L, 4L), (100L, 10L), (101L, 102L)))
      .toDF("n", "m")
    val got = DedupOps.ccIncrementalUpdate(oldLabels, batchNodes,
        deltaEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOps.ccFixpoint(
        corpusNodes.unionByName(batchNodes),
        corpusEdges.unionByName(deltaEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"incremental $got != rebuild $full")
    // the bridge actually merged: both old clusters now share label 0
    assert(got(14L) == 0L && got(100L) == 0L)
    // the new pair is its own cluster; the isolated doc keeps itself
    assert(got(102L) == 101L && got(103L) == 103L)
    graft.core.Core.releaseShared()
  }

  test("incremental CC update: degenerate deltas (no edges, edge-less " +
    "batch docs, empty batch)") {
    // the round-13 touched-subgraph restriction must keep the totality
    // guarantees: an EMPTY delta edge set leaves every old label
    // unchanged and labels every batch doc as itself (both via the
    // coalesce fallbacks — no supernode ever enters the loop)
    import spark.implicits._
    val oldLabels = Seq((0L, 0L), (1L, 0L), (7L, 7L)).toDF("doc_id", "cluster")
    val noEdges = Seq.empty[(Long, Long)].toDF("n", "m")
    val got1 = DedupOps.ccIncrementalUpdate(oldLabels,
        Seq(20L, 21L).toDF("doc_id"), noEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(0L -> 0L, 1L -> 0L, 7L -> 7L, 20L -> 20L, 21L -> 21L))
    // empty batch, edges only BETWEEN existing clusters (a late edge
    // discovery): clusters 0 and 7 merge, no batch rows appear
    val got2 = DedupOps.ccIncrementalUpdate(oldLabels,
        Seq.empty[Long].toDF("doc_id"),
        Seq((0L, 7L), (7L, 0L)).toDF("n", "m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(0L -> 0L, 1L -> 0L, 7L -> 0L))
    // a batch doc with edges PLUS one without: only the touched
    // subgraph loops, the isolated doc still gets its own label row
    val got3 = DedupOps.ccIncrementalUpdate(oldLabels,
        Seq(20L, 21L).toDF("doc_id"),
        Seq((20L, 7L), (7L, 20L)).toDF("n", "m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(0L -> 0L, 1L -> 0L, 7L -> 7L, 20L -> 7L, 21L -> 21L))
    graft.core.Core.releaseShared()
  }

  test("incremental CC update == union-find on random graphs and splits") {
    // randomized regression net over the contraction argument: random
    // sparse shuffled-id graphs, random corpus/batch node splits
    // (batch edges = every edge touching a batch node — the ingest
    // contract), incremental result must equal min-id union-find over
    // the full graph
    val rnd = new scala.util.Random(101)
    (1 to 3).foreach { _ =>
      val n = 30 + rnd.nextInt(30)
      val ids = rnd.shuffle((0L until 2L * n).toList).take(n)
      val es = (0 until n).flatMap { _ =>
        val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
        if (a == b) Nil else Seq((a, b), (b, a))
      }
      val batchSet = ids.filter(_ => rnd.nextBoolean()).toSet
      val corpusIds = ids.filterNot(batchSet)
      val corpusEdges = es.filter(e => !batchSet(e._1) && !batchSet(e._2))
      val deltaEdges = es.filter(e => batchSet(e._1) || batchSet(e._2))
      val oldLabels = DedupOps.ccFixpoint(corpusIds.toDF("doc_id"),
        corpusEdges.toDF("n", "m"))
      val got = DedupOps.ccIncrementalUpdate(oldLabels,
          batchSet.toSeq.toDF("doc_id"), deltaEdges.toDF("n", "m"),
          maxPairs = 32)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      for ((a, b) <- es) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.groupBy(find).flatMap { case (_, ms) =>
        val m = ms.min; ms.map(_ -> m)
      }.toMap
      assert(got == want, s"incremental != union-find on ids $ids")
    }
    graft.core.Core.releaseShared()
  }

  test("incremental CC UPSERT: merged view == full-rewrite output, " +
    "rows bounded by the touched subgraph") {
    // the state-table deployment form (round 14): ccIncrementalUpsert
    // returns ONLY changed/new label rows; old-minus-upserted UNION
    // upserts must equal ccIncrementalUpdate's full rewrite, and no
    // untouched doc may appear in the upsert set
    def sym(es: Seq[(Long, Long)]) = es.flatMap(e => Seq(e, e.swap))
    val corpusNodes = ((0L to 4L) ++ (10L to 14L) ++ (30L to 33L))
      .toDF("doc_id")
    val corpusEdges = sym((0L until 4L).map(i => (i, i + 1)) ++
      (10L until 14L).map(i => (i, i + 1)) ++
      (30L until 33L).map(i => (i, i + 1))).toDF("n", "m")
    val oldLabels = DedupOps.ccFixpoint(corpusNodes, corpusEdges)
    val batchNodes = Seq(100L, 101L, 102L, 103L).toDF("doc_id")
    val deltaEdges = sym(Seq((100L, 4L), (100L, 10L), (101L, 102L)))
      .toDF("n", "m")
    val ups = DedupOps.ccIncrementalUpsert(oldLabels, batchNodes,
        deltaEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOps.ccIncrementalUpdate(oldLabels, batchNodes,
        deltaEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val old = oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert((old -- ups.keys) ++ ups == full,
      s"merged view $ups over $old != full rewrite $full")
    // boundedness: docs 30-33 are untouched (no delta edge reaches
    // their cluster) — they must NOT be re-emitted; docs 10-14 DID
    // merge (label 10 -> 0) and must be; unchanged members of the
    // surviving cluster (0-4 keep label 0) must not be
    assert(!(30L to 33L).exists(ups.contains))
    assert((10L to 14L).forall(d => ups.get(d).contains(0L)))
    assert(!(0L to 4L).exists(ups.contains))
    assert(ups(100L) == 0L && ups(101L) == 101L && ups(102L) == 101L &&
      ups(103L) == 103L)
    graft.core.Core.releaseShared()
  }

  test("indexed delta + rep upsert: standing-index fold == re-derived " +
    "fold == full rebuild on the gate corpus") {
    // the standing-rep-index path (round 14): probing a pre-built
    // (simhash, rep_id) index with the batch broadcast must produce
    // the same components as re-deriving reps per fold, and the rep
    // upsert must add exactly the batch's NEW sketch values
    val sk = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val corpusSk = sk.filter(col("doc_id") % 2 === 0)
    val batchSk = sk.filter(col("doc_id") % 2 === 1)
    val reps = DedupOps.sketchRepIndex(corpusSk).localCheckpoint()
    val oldLabels = DedupOps.ccFixpoint(corpusSk.select("doc_id"),
      DedupOps.edgesFromSketches(corpusSk)).localCheckpoint()
    val ups = DedupOps.ccIncrementalUpsert(oldLabels,
        batchSk.select("doc_id"),
        DedupOps.incrementalSimhashDeltaIndexed(reps, batchSk),
        maxPairs = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val old = oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val full = DedupOps.ccFixpoint(sk.select("doc_id"),
        DedupOps.edgesFromSketches(sk))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((old -- ups.keys) ++ ups == full)
    // rep upsert rows = batch sketch values absent from the index,
    // rep = min batch doc carrying the value
    val gotReps = DedupOps.sketchRepUpsert(reps, batchSk)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpusVals = corpusSk.select("simhash").collect()
      .map(_.getLong(0)).toSet
    val wantReps = batchSk.select("simhash", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filterNot(p => corpusVals(p._1))
      .groupBy(_._1).map { case (sh, ms) => (sh, ms.map(_._2).min) }
      .toSet
    assert(gotReps == wantReps)
    graft.core.Core.releaseShared()
  }

  test("LABELED index fold: pre-contracted delta == unlabeled delta " +
    "fold == full rebuild; index upserts maintain the state across " +
    "two folds") {
    // the round-15 delta probe (r14 verdict #1): the labeled index
    // emits (batch_rep, cluster) edges directly — folding them must
    // land byte-identical labels to the unlabeled-index path and the
    // full rebuild, and sketchRepLabelUpsert must be exactly the MERGE
    // rows that keep the index correct for the NEXT fold
    val sk = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val corpusSk = sk.filter(col("doc_id") % 3 === 0)
    val batch1Sk = sk.filter(col("doc_id") % 3 === 1)
    val batch2Sk = sk.filter(col("doc_id") % 3 === 2)
    val labels0 = DedupOps.ccFixpoint(corpusSk.select("doc_id"),
      DedupOps.edgesFromSketches(corpusSk)).localCheckpoint()
    val idx0 = DedupOps.sketchRepLabelIndex(corpusSk, labels0)
      .localCheckpoint()
    // fold 1: labeled path == unlabeled path == incremental reference
    val ups1 = DedupOps.ccIncrementalUpsert(labels0,
        batch1Sk.select("doc_id"),
        DedupOps.incrementalSimhashDeltaLabeled(idx0, batch1Sk),
        maxPairs = 32)
      .localCheckpoint()
    val ups1Ref = DedupOps.ccIncrementalUpsert(labels0,
        batch1Sk.select("doc_id"),
        DedupOps.incrementalSimhashDeltaIndexed(
          idx0.select("simhash", "rep_id"), batch1Sk),
        maxPairs = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ups1M = ups1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ups1M == ups1Ref,
      s"labeled-index fold $ups1M != unlabeled-index fold $ups1Ref")
    // merge fold-1 state: labels and index
    val labels1 = labels0
      .join(ups1.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(ups1).localCheckpoint()
    val idxUps1 = DedupOps.sketchRepLabelUpsert(idx0, batch1Sk, ups1)
      .localCheckpoint()
    val idx1 = idx0
      .join(idxUps1.select("simhash"), Seq("simhash"), "left_anti")
      .unionByName(idxUps1).localCheckpoint()
    // the merged index must agree with a from-scratch labeled index
    // over the fold-1 corpus on (simhash, cluster, keys). rep_id may
    // legitimately differ — known values keep their STANDING rep while
    // a rebuild picks the global min-doc — but same-value docs are
    // Hamming-0, so they share a component and the CLUSTER (the column
    // the round-15 probe actually reads) is rep-choice-invariant.
    val wantIdx1 = DedupOps.sketchRepLabelIndex(
        corpusSk.unionByName(batch1Sk), labels1)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getSeq[Long](3))).toSet
    val gotIdx1 = idx1.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getSeq[Long](3))).toSet
    assert(gotIdx1 == wantIdx1, "merged index != rebuilt index after fold 1")
    // fold 2 probes the MAINTAINED state — equivalence vs full rebuild
    val ups2 = DedupOps.ccIncrementalUpsert(labels1,
        batch2Sk.select("doc_id"),
        DedupOps.incrementalSimhashDeltaLabeled(idx1, batch2Sk),
        maxPairs = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = labels1.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap -- ups2.keys
    val full = DedupOps.ccFixpoint(sk.select("doc_id"),
        DedupOps.edgesFromSketches(sk))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged ++ ups2 == full,
      "two labeled-index folds != full rebuild")
    graft.core.Core.releaseShared()
  }

  test("labeled-index delta probe plan: batch side broadcast, no " +
    "sort-merge join, no cartesian — the index scans map-side") {
    // the scale contract of the round-15 probe: the standing index is
    // read ONCE map-side against the broadcast batch combo keys; a
    // stats flip to SMJ (an index exchange per fold) or a cartesian
    // would be the corpus-exchange regression the labeled index exists
    // to prevent
    val sk = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val corpusSk = sk.filter(col("doc_id") % 2 === 0)
    val batchSk = sk.filter(col("doc_id") % 2 === 1)
    val labels = DedupOps.ccFixpoint(corpusSk.select("doc_id"),
      DedupOps.edgesFromSketches(corpusSk)).localCheckpoint()
    val idx = DedupOps.sketchRepLabelIndex(corpusSk, labels)
      .localCheckpoint()
    val plan = DedupOps.incrementalSimhashDeltaLabeled(idx, batchSk)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "index probe lost its broadcast join")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge join appeared in the fold's delta plan")
    assert(!plan.contains("CartesianProduct"))
    graft.core.Core.releaseShared()
  }

  test("incremental SimHash delta edges reach every cross-corpus " +
    "component a full rebuild finds") {
    // end-to-end on the gate corpus: split docs into 'corpus' (even
    // doc_id) and 'batch' (odd), compute old labels over corpus-only
    // star edges, fold in incrementalSimhashDelta — final components
    // must equal the full-graph fixpoint over ALL docs' edges
    val sk = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val corpusSk = sk.filter(col("doc_id") % 2 === 0)
    val batchSk = sk.filter(col("doc_id") % 2 === 1)
    val oldLabels = DedupOps.ccFixpoint(corpusSk.select("doc_id"),
      DedupOps.edgesFromSketches(corpusSk))
    val got = DedupOps.ccIncrementalUpdate(oldLabels,
        batchSk.select("doc_id"),
        DedupOps.incrementalSimhashDelta(corpusSk, batchSk),
        maxPairs = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOps.ccFixpoint(sk.select("doc_id"),
        DedupOps.edgesFromSketches(sk))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    graft.core.Core.releaseShared()
  }
  test("sketchRepLabelUpsert fails loudly when a new sketch rep has no " +
    "label upsert row (round-16 ADVICE: no silent index desync)") {
    // under the fold contract every NEW sketch value's rep is a batch
    // doc and every batch doc carries a label upsert row; a violation
    // (e.g. a caller passing a filtered/partial upsert relation) used
    // to silently DROP the index row via the inner join — now the job
    // must fail instead of permanently desyncing the standing index.
    val sk = DedupOps.simhash64Sketches(spark, TestSpark.sfDir)
    val corpusSk = sk.filter(col("doc_id") % 3 === 0)
    val batchSk = sk.filter(col("doc_id") % 3 === 1)
    val labels0 = DedupOps.ccFixpoint(corpusSk.select("doc_id"),
      DedupOps.edgesFromSketches(corpusSk)).localCheckpoint()
    val idx0 = DedupOps.sketchRepLabelIndex(corpusSk, labels0)
      .localCheckpoint()
    val fullUps = DedupOps.ccIncrementalUpsert(labels0,
        batchSk.select("doc_id"),
        DedupOps.incrementalSimhashDeltaLabeled(idx0, batchSk),
        maxPairs = 32)
      .localCheckpoint()
    // the healthy fold still works end-to-end — INCLUDING through a
    // count(), which prunes every column: the guard is a filter
    // predicate now (ADVICE r16), so plan-side column pruning cannot
    // skip it, and a throwing predicate must not make the optimizer's
    // null-input probe collapse the left-outer join on healthy data
    val healthy = DedupOps.sketchRepLabelUpsert(idx0, batchSk, fullUps)
    assert(healthy.count() ==
      healthy.select("cluster").collect().length.toLong)
    // drop ONE batch doc's upsert row that is a new-value rep: the
    // contract violation must surface as a job failure, not a missing
    // index row
    val newRepIds = DedupOps.sketchRepUpsert(
        idx0.select("simhash", "rep_id"), batchSk)
      .select("rep_id").collect().map(_.getLong(0))
    assert(newRepIds.nonEmpty, "test needs at least one new sketch value")
    val brokenUps = fullUps.filter(col("doc_id") =!= newRepIds.min)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      DedupOps.sketchRepLabelUpsert(idx0, batchSk, brokenUps)
        .select("cluster").collect()
    }
    assert(msgs(e).exists(_.contains("no label upsert row")),
      s"expected the fail-loud contract message, got: ${msgs(e)}")
    // and the ADVICE-r16 case: a consumer that prunes `cluster` away
    // entirely (count()) must STILL hit the guard
    val e2 = intercept[Exception] {
      DedupOps.sketchRepLabelUpsert(idx0, batchSk, brokenUps).count()
    }
    assert(msgs(e2).exists(_.contains("no label upsert row")),
      s"expected the fail-loud contract message via count(), got: ${msgs(e2)}")
    graft.core.Core.releaseShared()
  }
}
