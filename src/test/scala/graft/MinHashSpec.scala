package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.MinHash
import graft.Tables

/** SURVEY §2.11 dedup_minhash quality gate: banded minhash agreement with
  * exact token-set Jaccard on sf0.001 (theory: 1-(1-s^4)^8 ≈ 0.985 recall
  * at s = 0.8 for 8 bands x 4 rows).
  */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def exactPairs(): Set[(Long, Long)] = {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = tok.select(col("doc_id").as("a_id"), col("tok"))
    val b = tok.select(col("doc_id").as("b_id"), col("tok"))
    a.join(b, Seq("tok")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_int"))
      .join(sz.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sz.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .filter(col("n_int") * 5 >= (col("sz_a") + col("sz_b") - col("n_int")) * 4)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash+banding agrees with exact Jaccard >= 95% (and verify step is exact)") {
    val exact = exactPairs()
    assert(exact.nonEmpty, "corpus should contain near-dup pairs")
    val mined = MinHash.nearDuplicates(Tables.documents(spark, TestSpark.sf0001))
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The exact-Jaccard verification makes precision 1.0 by construction:
    assert(mined.subsetOf(exact), s"false positives: ${(mined -- exact).take(5)}")
    val recall = mined.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${mined.size}/${exact.size})")
  }

  test("shingled minhash is order-sensitive where unigram minhash is not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "h g f e d c b a"), // same token SET, reversed order
      (3L, "a b c d e f g h z")
    ).toDF("doc_id", "text")
    val unigram = MinHash.dedupAssignments(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unigram sets: docs 1 and 2 are identical (J=1) -> 2 dups onto 1
    assert(unigram(2L) == 1L, s"unigram should see 1 and 2 as dups: $unigram")
    val bigram = MinHash.dedupAssignments(docs,
      MinHash.shingles(split(col("text"), " "), 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bigram shingles of the reversed doc share NOTHING with the original
    assert(bigram(2L) == 2L, s"bigram must distinguish reversed order: $bigram")
    // the appended doc is still a dup of 1 under bigrams: its 8 shingles
    // include all 7 of doc 1's, so J = 7/8 = 0.875 >= 0.8 (and the shared
    // signature makes banding deterministic with these fixed hashes)
    assert(bigram(3L) == 1L, s"appended doc must stay a bigram dup of 1: $bigram")
  }

  test("embedding-cosine dedup finds an injected duplicate vector") {
    import spark.implicits._
    val base = Array.tabulate(16)(i => (i + 1) * 0.1f)
    val scaled = base.map(_ * 2.0f)          // cosine exactly 1.0
    val other = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, base), (2L, scaled), (3L, other)).toDF("vec_id", "embedding")
    val got = graft.operators.AnnIvf.cosineDupAssignments(emb, tau = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 3L, 0L)), got.toSeq.toString)
  }

  test("embedding-cosine dedup finds a PERTURBED near-duplicate (cos ~0.99, not exact)") {
    import spark.implicits._
    // An exact duplicate collides in every band by construction; a
    // perturbed one exercises the real recall math of the 96-bit 8x12
    // banding (P(>=1 band) ≈ 0.999 at cos 0.99 — and deterministic here:
    // fixed planes, fixed vectors).
    val base = Array.tabulate(16)(i => math.sin(i + 1.0).toFloat)
    val perturbed = base.zipWithIndex.map { case (v, i) =>
      v + (if (i % 3 == 0) 0.04f else -0.03f) }
    val cos = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot(base, perturbed) / math.sqrt(dot(base, base) * dot(perturbed, perturbed))
    }
    assert(cos > 0.98 && cos < 1.0, s"fixture must be a NEAR dup, cos=$cos")
    val other = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, base), (2L, perturbed), (3L, other)).toDF("vec_id", "embedding")
    val got = graft.operators.AnnIvf.cosineDupAssignments(emb, tau = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 3L, 0L)), got.toSeq.toString)
  }

  test("bandGeometry: small corpora keep the 8x12 design point; bits track log2(n), bands hold recall") {
    import graft.operators.AnnIvf.bandGeometry
    assert(bandGeometry(1000L) == (8, 12))
    assert(bandGeometry(60000L) == (8, 12))     // sf0.1 regime — unchanged
    assert(bandGeometry(260000L) == (8, 12))    // last n where 12 bits holds occupancy ~64
    val (b2m, k2m) = bandGeometry(2000000L)     // sf100 regime
    assert(k2m == 15 && b2m == 12, s"($b2m,$k2m)")
    val (b1g, k1g) = bandGeometry(1000000000L)
    assert(k1g == 24 && b1g == 32, s"($b1g,$k1g)")
    // recall invariant: P(cos-0.95 pair agrees on >= 1 band) never drops
    // below the 8x12 design point (~0.9297) at any corpus size
    for (n <- Seq(1000L, 260000L, 2000000L, 1000000000L)) {
      val (b, k) = bandGeometry(n)
      val p = 1.0 - math.pow(1.0 - math.pow(0.9, k), b)
      assert(p >= 0.9296, s"n=$n geometry ($b,$k) detects at only $p")
    }
  }

  test("cosineDupAssignmentsAuto matches the static path on a small corpus") {
    import spark.implicits._
    val base = Array.tabulate(16)(i => (i + 1) * 0.1f)
    val scaled = base.map(_ * 2.0f)
    val other = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, base), (2L, scaled), (3L, other)).toDF("vec_id", "embedding")
    val auto = graft.operators.AnnIvf.cosineDupAssignmentsAuto(emb, tau = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(auto.toSeq == Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 3L, 0L)), auto.toSeq.toString)
  }

  test("Components.minLabel merges where a min-parent forest under-merges") {
    import spark.implicits._
    // Edges 1-3, 2-4, 3-4: node 4's min neighbor is 2, so a single-pass
    // parent forest yields {1,3} and {2,4}; true components are {1,2,3,4}.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 3L), (2L, 4L), (3L, 4L)).toDF("a_id", "b_id")
    val got = graft.operators.Components.minLabel(nodes, edges, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L), got.toString)
  }

  test("Components.altStar ≡ minLabel: under-merge fixture, 8-node path, and a seeded random graph") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the min-parent under-merge fixture
    val n1 = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val e1 = Seq((1L, 3L), (2L, 4L), (3L, 4L)).toDF("a_id", "b_id")
    // the 8-node path graph (deep diameter — the pointer-jump stressor)
    val n2 = (1L to 8L).toDF("id")
    val e2 = (1L to 7L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // seeded random graph: 60 nodes, 45 edges from a fixed LCG — both
    // algorithms must produce the identical label table.
    var seed = 0x5eedL
    def next(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound)
    }
    val nodes3 = (1L to 60L).toDF("id")
    val rndEdges = Seq.fill(45)((next(60) + 1, next(60) + 1))
      .filter { case (a, b) => a != b }
    val e3 = rndEdges.toDF("a_id", "b_id")
    val viaMin = labelsOf(graft.operators.Components.minLabel(nodes3, e3, "id"))
    // Once with the driver finish (the default broadcast threshold), once
    // with the pass loop alone (threshold -1).
    def check(): Unit = {
      assert(labelsOf(graft.operators.Components.altStar(n1, e1, "id")) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
      assert(labelsOf(graft.operators.Components.altStar(n2, e2, "id")) ==
        (1L to 8L).map(_ -> 1L).toMap)
      val viaStar = labelsOf(graft.operators.Components.altStar(nodes3, e3, "id"))
      assert(viaStar == viaMin, s"altStar and minLabel diverge on the random graph")
    }
    check()
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(check())
  }

  test("Components.altStar on a broadcast-sized edge set starts 2 jobs: the checkpoint and the collect") {
    import spark.implicits._
    // ~200 canonical edges (a_id < b_id, distinct), as MinHash.verifiedEdges
    // hands them over: 40 chains of 5 edges over 240 nodes.
    val edges = for (c <- 0L until 40L; i <- 0L until 5L) yield (c * 6 + i + 1, c * 6 + i + 2)
    val nodes = (1L to 240L).toDF("id")
    val eDf = edges.toDF("a_id", "b_id")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    val out = try graft.operators.Components.altStar(nodes, eDf, "id", edgesPreCanonical = true)
    finally { org.apache.spark.ListenerDrain(sc); sc.removeSparkListener(l) }
    assert(jobs.get >= 1 && jobs.get <= 2, s"${jobs.get} jobs")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 240L).map(i => i -> ((i - 1) / 6 * 6 + 1)).toMap)
  }

  test("dedup_minhash and dedup_simhash scan documents once: one shared exchange feeds every consumer") {
    // The final adaptive plan, descending into query stages; a reused
    // exchange is a leaf there, so each scan counted is one real read.
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val here = p match {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case _ => 0
      }
      here + p.children.map(scans).sum
    }
    for (row <- Seq("dedup_minhash", "dedup_simhash")) {
      val df = SparkEntry.queries(row)(spark, TestSpark.sf0001)
      df.collect()
      assert(scans(df.queryExecution.executedPlan) == 1,
        s"$row:\n${df.queryExecution.executedPlan}")
    }
  }

  test("Components.minLabel reliable-checkpoint mode: same labels, lineage cut to checkpoint files") {
    import spark.implicits._
    val dir = TestSpark.scratch("graft-ckpt")
    try {
      val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      val edges = Seq((1L, 3L), (2L, 4L), (3L, 4L)).toDF("a_id", "b_id")
      val reliable = graft.operators.Components
        .minLabel(nodes, edges, "id", checkpointDir = Some(dir))
      assert(reliable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
      // Lineage provably cut: reliable checkpoints materialized RDD files
      // under the dir, and the returned frame's lineage bottoms out in an
      // RDD scan over them (no in-memory-only localCheckpoint blocks).
      val rddDirs = new java.io.File(dir).listFiles()
      assert(rddDirs != null && rddDirs.nonEmpty, s"no checkpoint files written under $dir")
      val leaves = reliable.queryExecution.optimizedPlan.collectLeaves().map(_.nodeName)
      assert(leaves.forall(_ == "LogicalRDD"), s"lineage not truncated: $leaves")
      assert(reliable.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        "returned labels must be backed by a reliable checkpoint, not local blocks")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Components.minLabel resumes from a partial run's persisted labels (driver-restart recovery)") {
    import spark.implicits._
    val dir = TestSpark.scratch("graft-resume")
    try {
      // A long path (1-2-...-8) needs several propagate+jump rounds, so a
      // maxPasses=1 run genuinely stops short of the fixpoint — the spec
      // must resume from a PARTIAL state, not an already-converged one.
      val nodes = (1L to 8L).toDF("id")
      val edges = (1L to 7L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val full = graft.operators.Components.minLabel(nodes, edges, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(full == (1L to 8L).map(_ -> 1L).toMap, full.toString)

      // Run 1 "dies" after one committed pass: persist its labels to
      // parquet — the restart artifact a real multi-hour job writes.
      val partial = graft.operators.Components.minLabel(nodes, edges, "id", maxPasses = 1)
      partial.write.mode("overwrite").parquet(s"$dir/labels_pass1")
      val persisted = spark.read.parquet(s"$dir/labels_pass1")
      val partialMap = persisted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(partialMap.exists { case (id, l) => l != full(id) },
        s"fixture converged in one pass — resume test is vacuous: $partialMap")
      // Partial-state invariant that makes resuming sound: label <= id.
      partialMap.foreach { case (id, l) => assert(l <= id, s"label $l > id $id") }

      // Run 2 resumes from the persisted labels and must reach the same
      // fixpoint as the uninterrupted run.
      val resumed = graft.operators.Components
        .minLabel(nodes, edges, "id", initLabels = Some(persisted))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(resumed == full, s"resumed $resumed != full $full")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("verifiedEdges (hashed-token carry) ≡ the string-token reference pipeline, edge for edge") {
    // r17: verifiedEdges carries xxhash64(token) arrays through its shared
    // exchange and verify joins. This gate pins it to the string-carried
    // shape it replaced: same banding (signatures are byte-identical — the
    // banding always minhashed these very hashes), same verified-edge SET
    // (Jaccard sizes over hashed sets equal string-set sizes absent a
    // 64-bit collision inside a compared pair, and the corpus is fixed).
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val toksExpr = array_distinct(split(col("text"), " "))
    val toks = docs.select(col("doc_id"), toksExpr.as("toks"))
      .repartition(col("doc_id"))
    val wB = Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val reference = MinHash.bandedFromToks(toks)
      .select(col("doc_id"),
        min(col("doc_id")).over(wB).as("bmin"),
        lag(col("doc_id"), 1).over(wB).as("prev"))
      .select(col("doc_id"), explode(array(col("bmin"), col("prev"))).as("nbr"))
      .filter(col("nbr").isNotNull && col("nbr") < col("doc_id"))
      .select(col("nbr").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("ta")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("tb")), Seq("b_id"))
      .filter(size(array_intersect(col("ta"), col("tb"))) * 5 >=
        size(array_union(col("ta"), col("tb"))) * 4)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = MinHash.verifiedEdges(docs, toksExpr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reference.nonEmpty, "corpus should yield verified edges")
    assert(hashed == reference,
      s"edge sets differ: only-hashed=${(hashed -- reference).take(5)} " +
        s"only-reference=${(reference -- hashed).take(5)}")
  }

  test("dedupClusters collapses an A~B~C chain (A !~ C) to one canonical id") {
    import spark.implicits._
    // J(A,B) = 9/10 = 0.9, J(B,C) = 9/11 ≈ 0.82 (both >= 0.8);
    // J(A,C) = 8/11 ≈ 0.73 (< 0.8) — a genuine transitive chain.
    val a = (1 to 9).map(i => s"t$i").mkString(" ")
    val b = (1 to 10).map(i => s"t$i").mkString(" ")
    val c = (2 to 11).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (100L, a), (200L, b), (300L, c),
      (400L, "completely unrelated words about nothing shared at all")
    ).toDF("doc_id", "text")
    // Precondition: the one-hop artifact really does leave C un-merged
    // (otherwise this test wouldn't be exercising transitivity).
    val oneHop = MinHash.dedupAssignments(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneHop(200L) == 100L, s"A~B must verify one-hop: $oneHop")
    assert(oneHop(300L) == 300L, s"C must fail one-hop verify vs A: $oneHop")
    val clusters = MinHash.dedupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(100L -> 100L, 200L -> 100L, 300L -> 100L, 400L -> 400L),
      s"chain must collapse to 100: $clusters")
  }

  test("dedupClusters refines dedupAssignments on the corpus (every one-hop dup shares its canonical's cluster)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val clusters = MinHash.dedupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == docs.count())
    // cluster ids are component minima: label <= id and label is a fixpoint
    clusters.foreach { case (d, l) =>
      assert(l <= d, s"label $l > doc $d")
      assert(clusters(l) == l, s"canonical $l of $d is not itself canonical")
    }
    val oneHop = MinHash.dedupAssignments(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    oneHop.foreach { case (d, c) =>
      assert(clusters(d) == clusters(c),
        s"one-hop pair ($d -> $c) split across clusters ${clusters(d)} / ${clusters(c)}")
    }
    // and transitivity strictly grows the merged set on this corpus
    val mergedOneHop = oneHop.count { case (d, c) => c != d }
    val mergedClusters = clusters.count { case (d, l) => l != d }
    assert(mergedClusters >= mergedOneHop,
      s"clusters merged $mergedClusters < one-hop $mergedOneHop")
  }

  test("dedupAssignments: one row per doc, canonical <= doc, dups verified against exact Jaccard") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = MinHash.dedupAssignments(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == docs.count())
    assert(got.forall { case (d, c, _) => c <= d })
    val exact = exactPairs()
    val dups = got.filter(_._3 == 1L)
    assert(dups.nonEmpty, "corpus has near-dups, assignments should find some")
    dups.foreach { case (d, c, _) =>
      assert(exact.contains((c, d)), s"assignment ($c <- $d) not an exact near-dup pair")
    }
  }
}
