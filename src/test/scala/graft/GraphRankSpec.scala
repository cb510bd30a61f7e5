package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Ranking

/** Integer-exact PageRank gates: the distributed iteration equals a
  * driver-side reference loop EXACTLY (no tolerance — the integer design
  * makes bit-equality the contract), rank mass is conserved up to floor
  * shedding, and the graph's hubs outrank its leaves.
  */
class GraphRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Scratch.scoped: concurrent invocations each release exactly their own dirs (ADVICE r14)") {
    import graft.operators.Scratch
    def mk(tag: String) = {
      val d = java.nio.file.Paths.get(TestSpark.scratch(s"scoped-$tag-"))
      java.nio.file.Files.write(d.resolve("x"), Array[Byte](1))
      d
    }
    // Thread B opens a scope and tracks a dir DURING thread A's scope —
    // the old global set-difference would have deleted B's dir when A
    // finished first. The ThreadLocal ledger must not.
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val bTracked = new java.util.concurrent.CountDownLatch(1)
    @volatile var bDir: java.nio.file.Path = null
    @volatile var bSurvivedDuringB: Boolean = false
    val tB = new Thread(() => {
      Scratch.scoped {
        aEntered.await()
        bDir = mk("b"); Scratch.track(bDir)
        bTracked.countDown()
        // hold the scope open until A's scope has closed
        Thread.sleep(300)
        bSurvivedDuringB = java.nio.file.Files.exists(bDir)
      }
    })
    tB.start()
    var aDir: java.nio.file.Path = null
    Scratch.scoped {
      aDir = mk("a"); Scratch.track(aDir)
      aEntered.countDown()
      bTracked.await()
    } // A's scope closes while B's is still open
    assert(!java.nio.file.Files.exists(aDir), "A's scope must release A's dir")
    tB.join()
    assert(bSurvivedDuringB,
      "A's scope exit deleted the CONCURRENT invocation's dir — the r14 race")
    assert(!java.nio.file.Files.exists(bDir), "B's scope must release B's dir")
  }

  test("Sessions.cloned: conf pins on the clone are invisible to the parent; runtime confs copy over") {
    val parent = spark
    val before = parent.conf.get("spark.sql.shuffle.partitions")
    val isolation = "spark.sql.artifact.isolation.enabled"
    val isolationBefore = parent.conf.getOption(isolation)
    val clone = Sessions.cloned(parent)
    assert(clone.conf.get("spark.sql.shuffle.partitions") == before,
      "clone must inherit the parent's runtime conf")
    Sessions.withShufflePartitions(clone, 3) {
      assert(clone.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(parent.conf.get("spark.sql.shuffle.partitions") == before,
        "the clone's pin leaked into the parent session")
    }
    assert(clone.conf.get("spark.sql.shuffle.partitions") == before)
    // and the clone shares the SparkContext (executors, block store)
    assert(clone.sparkContext eq parent.sparkContext)
    // The clone runs without artifact isolation (a clone with its own
    // executor class loader recompiles every generated class); the parent
    // keeps its setting.
    assert(clone.conf.get(isolation) == "false")
    assert(parent.conf.getOption(isolation) == isolationBefore,
      "cloning changed the parent's artifact isolation")
    // A parent that sets isolation explicitly still yields a shared-loader
    // clone: the copy loop runs before the clone's own setting.
    val isolated = parent.newSession()
    isolated.conf.set(isolation, "true")
    assert(Sessions.cloned(isolated).conf.get(isolation) == "false",
      "the copied parent value overrode the clone's setting")
    assert(isolated.conf.get(isolation) == "true")
  }

  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (s, es) => (s, es.size.toLong) }
    val base = Ranking.Scale * 3L / 20L / n
    var r = nodes.map(v => (v, Ranking.Scale / n)).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst) =>
        inflow(dst) += r(src) * 17L / (20L * outdeg(src))
      }
      r = nodes.map(v => (v, base + inflow(v))).toMap
    }
    r
  }

  test("q_graph_pagerank == driver reference loop, bit-exact") {
    val edges = Ranking.tradeEdges(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = referenceRanks(edges, 10)
    val got = SparkEntry.queries("q_graph_pagerank")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == want.keySet)
    val diffs = want.collect { case (v, r) if got(v) != r => (v, r, got(v)) }
    assert(diffs.isEmpty, s"ranks diverge from the exact reference: ${diffs.take(5)}")
  }

  test("broadcast and co-partitioned join paths produce bit-identical ranks") {
    // The at-scale flip (node count past the broadcast ceiling) must be a
    // pure physical choice: force the shuffle path on the small graph and
    // compare against the broadcast path rank-for-rank.
    val edges = Ranking.tradeEdges(spark, TestSpark.sf0001)
    val viaBroadcast = Ranking.pagerank(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaShuffle = Ranking.pagerank(edges, broadcastCeiling = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaBroadcast == viaShuffle,
      "join strategy leaked into the integer rank arithmetic")
  }

  test("rank mass conserved up to floor shedding; hubs outrank leaves") {
    val df = SparkEntry.queries("q_graph_pagerank")(spark, TestSpark.sf0001)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = rows.map(_._2).sum
    // Bidirectional edges mean no dangling nodes — the only mass loss is
    // per-edge floor truncation (< 1 micro-unit per edge per pass) plus
    // the teleport base floor: tight window around SCALE.
    assert(total <= Ranking.Scale, s"rank mass created from nothing: $total")
    assert(total >= Ranking.Scale * 99L / 100L,
      s"floor shedding should stay under 1%: $total of ${Ranking.Scale}")
    // Suppliers (offset ids) each aggregate many customers' mass — every
    // supplier must outrank every customer at this graph's fan-in (~15:1).
    val (sup, cust) = rows.partition(_._1 >= 1000000000L)
    assert(sup.nonEmpty && cust.nonEmpty)
    assert(sup.map(_._2).min > cust.map(_._2).max,
      s"supplier floor ${sup.map(_._2).min} must exceed customer ceiling ${cust.map(_._2).max}")
  }

  test("tradeRank leaves no pr-* scratch behind and stays flat across invocations") {
    // The r13 verdict's one weak: every pagerank run wrote an edge-sized
    // parquet to target/graft-scratch/pr-* and never deleted it (~12 GB
    // per invocation at sf100). tradeRank now releases its dirs the moment
    // pagerank's terminal (eager) localCheckpoint returns — so two full
    // invocations must leave the pr-* population exactly as it started,
    // with ranks still correct (the collect proves the returned frame
    // never needed the deleted parquet).
    import java.nio.file.{Files, Paths}
    def prDirs(): Set[String] = {
      val base = Paths.get("target", "graft-scratch")
      if (!Files.isDirectory(base)) Set.empty
      else {
        val s = Files.list(base)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("pr-")).toSet
        } finally s.close()
      }
    }
    val before = prDirs()
    val r1 = Ranking.tradeRank(spark, TestSpark.sf0001).collect()
    val afterFirst = prDirs()
    val r2 = Ranking.tradeRank(spark, TestSpark.sf0001).collect()
    val afterSecond = prDirs()
    assert(r1.nonEmpty && r1.sameElements(r2), "ranks must be deterministic")
    assert((afterFirst -- before).isEmpty,
      s"first tradeRank leaked scratch dirs: ${(afterFirst -- before).take(3)}")
    assert((afterSecond -- before).isEmpty,
      s"second tradeRank leaked scratch dirs: ${(afterSecond -- before).take(3)}")
  }

  test("triangles: degree-oriented count over the FULL sf0.001 graph equals a driver-side reference") {
    import graft.operators.Triangles
    val edgesDf = Triangles.partEdges(spark, TestSpark.sf0001) // everyNth=1: complete graph
    val edges = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // Reference: adjacency-set intersection over canonical u<v edges.
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    // Each triangle is seen once per its 3 edges: sum common-neighbor
    // counts over edges, divide by 3.
    val refTriangles = edges.iterator.map { case (u, v) => (adj(u) & adj(v)).size.toLong }.sum / 3
    val got = Triangles.triangleCount(edgesDf).head()
    assert(got.getLong(0) == edges.size.toLong, s"edge count ${got.getLong(0)} vs ${edges.size}")
    assert(got.getLong(1) == refTriangles, s"triangles ${got.getLong(1)} vs reference $refTriangles")
    assert(refTriangles > 0, "degenerate graph: reference found no triangles")
  }
}
