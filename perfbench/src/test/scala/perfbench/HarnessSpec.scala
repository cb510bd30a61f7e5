package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile leaving at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(Stats.Tail(90, 90.0, 100)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some(Stats.Tail(75, 30.0, 40)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(Stats.Tail(50, 10.0, 20)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_.percentile) == Some(99))
  }

  test("no tail when even the median leaves fewer than ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 57).map(i => (i * 37 % 57).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
  }
}

class RunResultSpec extends AnyFunSuite {
  test("a throwing operation and a failed check each count once") {
    val r = new RunResult
    assert(r.attempt("ok")(1).contains(1))
    assert(r.attempt("boom")(throw new IllegalStateException("x")).isEmpty)
    r.attempt("checked")(2).foreach(v => if (v != 3) r.fail("wrong value"))
    assert(r.attempted == 3)
    assert(r.failed == 2)
    assert(r.errors.size == 2)
  }

  test("the seed picks where the fixed cycle of items starts") {
    val items = (1 to 6).map(i => s"q$i")
    assert(Runs.rotation(items, 2) == Seq("q3", "q4", "q5", "q6", "q1", "q2"))
    assert(Runs.rotation(items, 8) == Runs.rotation(items, 2))
    assert(Runs.rotation(items, -1) == Runs.rotation(items, 5))
    assert((0 until 6).map(Runs.rotation(items, _)).distinct.size == 6)
  }

  test("the counted pass count follows --seconds, not the program's speed") {
    assert(Runs.countedPasses(21, trace = false) == 3)
    assert(Runs.countedPasses(1, trace = false) == 1)
    assert(Runs.countedPasses(1, trace = true) == 3)
    assert(Runs.countedPasses(28, trace = true) == 5)
  }
}

class StoreModelSpec extends AnyFunSuite {
  import StoreModel.{Row, Summary}

  test("inserts, merges and deletes track the live rows and each version") {
    val m = new StoreModel
    m.insert(0, Seq(Row(1, 0, 10), Row(2, 1, 20)))
    m.insert(1, Seq(Row(3, 1, 30)), Some(("w0", 5L)))
    m.merge(2, Seq(Row(2, 1, 25)))
    m.delete(3, Seq(1L))
    assert(m.get(2).contains(Row(2, 1, 25)))
    assert(m.get(1).isEmpty)
    assert(m.summary == Summary(2, 55))
    assert(m.at(0).contains(Summary(2, 30)))
    assert(m.at(1).contains(Summary(3, 60)))
    assert(m.at(2).contains(Summary(3, 65)))
    assert(m.at(4).isEmpty)
    assert(m.lastTxn("w0").contains(5L))
    assert(m.lastTxn("w1").isEmpty)
  }

  test("the model refuses what a correct table cannot do") {
    val m = new StoreModel
    m.insert(0, Seq(Row(1, 0, 10)))
    assertThrows[IllegalArgumentException](m.insert(1, Seq(Row(1, 0, 11))))
    assertThrows[IllegalArgumentException](m.merge(1, Seq(Row(1, 2, 11))))
  }
}

class DigestSpec extends AnyFunSuite {
  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]").appName("digest-spec")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("row order, array order and map entry order do not change a digest") {
    val s = spark
    import s.implicits._
    val a = Seq((1, Seq(3L, 1L), Map("x" -> 1.0)), (2, Seq(2L), Map("y" -> 2.0, "z" -> 3.0)))
      .toDF("k", "arr", "m")
    val b = Seq((2, Seq(2L), Map("z" -> 3.0, "y" -> 2.0)), (1, Seq(1L, 3L), Map("x" -> 1.0)))
      .toDF("k", "arr", "m")
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a.repartition(3)) == Digest.of(a.coalesce(1)))
  }

  test("a changed, missing or duplicated row changes the digest") {
    val s = spark
    import s.implicits._
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val d = Digest.of(base)
    assert(Digest.of(Seq((1, "a"), (2, "B"), (3, "c")).toDF("k", "v")) != d)
    assert(Digest.of(Seq((1, "a"), (2, "b")).toDF("k", "v")) != d)
    assert(Digest.of(Seq((1, "a"), (2, "b"), (3, "c"), (3, "c")).toDF("k", "v")) != d)
    assert(d.startsWith("3:"))
  }

  test("floating-point noise below six significant digits is ignored") {
    val s = spark
    import s.implicits._
    val x = Seq(0.1 + 0.2, 1e10 / 3).toDF("v")
    val y = Seq(0.3, 3333333333.3333335).toDF("v")
    assert(Digest.of(x) == Digest.of(y))
    assert(Digest.of(Seq(0.3001).toDF("v")) != Digest.of(Seq(0.3).toDF("v")))
  }

  test("column names do not matter, column positions do") {
    val s = spark
    import s.implicits._
    val a = Seq((1, 2)).toDF("a", "b")
    assert(Digest.of(a) == Digest.of(a.toDF("x", "y")))
    assert(Digest.of(a) != Digest.of(a.select($"b", $"a")))
  }
}
