package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def ycsbStream(seed: Long, n: Int): Array[Byte] = {
    val m = new YcsbModel(seed, 1000)
    (0 until n).map { _ =>
      val op = m.next()
      if (op.kind == "insert") m.inserted(op.key)
      s"${op.kind} ${op.key} ${m.value(op.key, 1, 0)}"
    }.mkString("\n").getBytes("UTF-8")
  }

  private def ingestStream(seed: Long): Array[Byte] = {
    val g = new IngestRows(seed, 1000)
    (0L until 5L).map(g.batchSql).mkString("\n").getBytes("UTF-8")
  }

  test("the same seed gives a byte-identical op stream; another seed a different one") {
    assert(ycsbStream(42, 10000).sameElements(ycsbStream(42, 10000)))
    assert(!ycsbStream(42, 10000).sameElements(ycsbStream(43, 10000)))
    assert(ingestStream(42).sameElements(ingestStream(42)))
    assert(!ingestStream(42).sameElements(ingestStream(43)))
  }

  test("over 10k draws the YCSB mix stays within 2 points of 50/5/15/10/10/10") {
    val m = new YcsbModel(7, 1000)
    val n = 10000
    val counts = (0 until n).map(_ => m.next().kind).groupBy(identity).view.mapValues(_.size).toMap
    val want = Map("read" -> 50, "scan" -> 5, "insert" -> 15, "update" -> 10, "delete" -> 10, "rmw" -> 10)
    want.foreach { case (k, pct) =>
      val got = 100.0 * counts.getOrElse(k, 0) / n
      assert(math.abs(got - pct) <= 2.0, s"$k: $got% vs $pct%")
    }
  }

  test("YCSB keys stay inside the issued key space and inserts take new keys") {
    val m = new YcsbModel(3, 100)
    var issued = 100L
    (0 until 5000).foreach { _ =>
      val op = m.next()
      if (op.kind == "insert") { assert(op.key == issued); issued += 1; m.inserted(op.key) }
      else assert(op.key >= 0 && op.key < issued)
    }
  }

  test("YCSB values are 10 characters and change with the version") {
    val m = new YcsbModel(5, 10)
    assert(m.value(3, 1, 0).length == YcsbModel.valueLength)
    assert(m.value(3, 1, 0) != m.value(3, 1, 1))
    assert(m.value(3, 1, 0) != m.value(3, 2, 0))
  }

  test("tail percentile keeps ten samples beyond it") {
    assert(Stats.tail(Array.tabulate(1000)(_.toDouble))._1 == 95)
    assert(Stats.tail(Array.tabulate(100)(_.toDouble))._1 == 90)
    assert(Stats.tail(Array.tabulate(40)(_.toDouble))._1 == 75)
  }
}
