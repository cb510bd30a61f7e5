package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Drift gate for the deterministic corpus generator (VERDICT r6 next #9):
  * the scale legs trust DataGen to reproduce the DRIVER corpus's
  * distributions (near-dup density for the LSH family, embedding geometry
  * for the ANN family), so a generator edit that silently shifts either
  * must fail CI, not surface as a mysteriously-changed sf100 number.
  *
  * Every check compares a generated frame against the REAL driver corpus
  * at /root/testdata measured live (constants from FIXTURES.md §1 noted
  * inline) — double-entry: the generator never validates against itself.
  */
class DataGenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (doc_id, token set) for doc_id < 200, driver-side. */
  private def tokenSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
    df.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap

  /** Near-dup pair count at token-Jaccard > 0.8 among the first 200 docs —
    * FIXTURES.md measures 3,079 on the driver corpus.
    */
  private def nearDupPairs(toks: Map[Long, Set[String]]): Int = {
    val ids = toks.keys.toSeq.sorted
    (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      a = toks(ids(i)); b = toks(ids(j))
      if (a & b).size * 5 > (a | b).size * 4
    } yield 1).size
  }

  test("documents: generated near-dup density and token/lang/source domains track the driver corpus") {
    val real = Tables.documents(spark, TestSpark.sf001)
    val gen = DataGen.documentsFrame(spark, 500)
    val realPairs = nearDupPairs(tokenSets(real))
    val genPairs = nearDupPairs(tokenSets(gen))
    // the LSH-stressing property: heavy near-duplication of similar volume
    assert(realPairs > 1000, s"fixture assumption broken: real corpus has $realPairs near-dup pairs")
    assert(math.abs(genPairs - realPairs) <= realPairs * 2 / 5,
      s"near-dup density drifted: generated $genPairs vs real $realPairs pairs")
    // token-count domain (10..100 per doc) and the 31-word vocab
    val genTok = gen.select(size(split(col("text"), " ")).as("n"))
      .agg(min(col("n")), max(col("n"))).head()
    assert(genTok.getInt(0) >= 10 && genTok.getInt(1) <= 100, genTok.toString)
    val genVocab = gen.select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    val realVocab = real.select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(genVocab == realVocab,
      s"vocab drifted: only-gen=${genVocab -- realVocab} only-real=${realVocab -- genVocab}")
    // categorical domains
    def dom(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).distinct().collect().map(_.getString(0)).toSet
    assert(dom(gen, "lang") == dom(real, "lang"))
    assert(dom(gen, "source") == dom(real, "source"))
  }

  test("embeddings: generated geometry (unit norms, 10 clusters, separation, noise) tracks the driver corpus") {
    def vecs(df: org.apache.spark.sql.DataFrame): Array[(Int, Array[Float])] =
      df.select(col("label").cast("int"), col("embedding"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val real = vecs(Tables.embeddings(spark, TestSpark.sf001))
    val gen = vecs(DataGen.embeddingsFrame(spark, 500))
    // dims + unit norms (float rounding tolerance)
    for ((name, vs) <- Seq("real" -> real, "gen" -> gen)) {
      assert(vs.forall(_._2.length == Tables.EmbeddingDim), s"$name dim drift")
      val norms = vs.map(v => math.sqrt(v._2.map(x => x.toDouble * x).sum))
      assert(norms.forall(n => math.abs(n - 1.0) < 1e-3), s"$name not unit-norm")
    }
    assert(gen.map(_._1).distinct.sorted.toSeq == (0 until 10), "generated label domain drifted")
    // cluster geometry: centroid separation (~0.09 measured) and
    // within-cluster spread; compare generated vs real with headroom.
    def centroids(vs: Array[(Int, Array[Float])]): Map[Int, Array[Double]] =
      vs.groupBy(_._1).view.mapValues { g =>
        val d = Tables.EmbeddingDim
        val acc = new Array[Double](d)
        g.foreach(v => (0 until d).foreach(i => acc(i) += v._2(i)))
        acc.map(_ / g.length)
      }.toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    def sep(cs: Map[Int, Array[Double]]): Double = {
      val ks = cs.keys.toSeq.sorted
      val ds = for (i <- ks.indices; j <- (i + 1) until ks.size)
        yield dist(cs(ks(i)), cs(ks(j)))
      ds.sum / ds.size
    }
    def spread(vs: Array[(Int, Array[Float])], cs: Map[Int, Array[Double]]): Double = {
      val ds = vs.map(v => dist(v._2.map(_.toDouble), cs(v._1)))
      ds.sum / ds.length
    }
    val (realC, genC) = (centroids(real), centroids(gen))
    val (realSep, genSep) = (sep(realC), sep(genC))
    val (realSpread, genSpread) = (spread(real, realC), spread(gen, genC))
    info(f"centroid separation real=$realSep%.4f gen=$genSep%.4f; spread real=$realSpread%.4f gen=$genSpread%.4f")
    assert(math.abs(genSep - realSep) <= realSep * 0.5,
      f"centroid separation drifted: gen $genSep%.4f vs real $realSep%.4f")
    assert(math.abs(genSpread - realSpread) <= realSpread * 0.25,
      f"within-cluster spread drifted: gen $genSpread%.4f vs real $realSpread%.4f")
  }

  test("physical schema: generated timestamp tables round-trip to the driver corpus's read schema") {
    // Round-8 lesson: the driver corpus re-encoded events.ts (ns -> µs NTZ)
    // while DataGen kept emitting the OLD encoding and its drift gate —
    // distribution-only — stayed green. This gate compares the PARQUET
    // ROUND-TRIPPED read schema of every generated timestamp-bearing table
    // field-by-field (name AND dataType) against the real corpus, so a
    // physical re-encoding on either side fails here by name.
    val tmp = TestSpark.scratch("graft-datagen-schema")
    val gen = Seq(
      "orders" -> DataGen.ordersFrame(spark, 100, 50),
      "lineitem" -> DataGen.lineitemFrame(spark, 100, 50, 10),
      "events" -> DataGen.eventsFrame(spark, 100, 20))
    val diffs = gen.flatMap { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      val got = Tables.table(spark, tmp, t).schema
      val want = Tables.table(spark, TestSpark.sf0001, t).schema
      if (got.fields.map(f => (f.name, f.dataType)).toSeq ==
          want.fields.map(f => (f.name, f.dataType)).toSeq) Nil
      else Seq(s"$t: generated reads as ${got.simpleString} but driver corpus reads as ${want.simpleString}")
    }
    assert(diffs.isEmpty, "\nGENERATOR/CORPUS PHYSICAL SCHEMA DRIFT:\n" + diffs.mkString("\n"))
  }
}
