package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TpchSqlSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = java.nio.file.Files.createTempDirectory("perfbench-tpch").toString

  override def beforeAll(): Unit = {
    spark = graft.Engine.newSession("perfbench-spec", 2)
    TpchData.write(spark, 7L, 0.001, dir)
    TpchData.tableNames.foreach(n => graft.Engine.table(spark, dir, n).createOrReplaceTempView(n))
  }

  override def afterAll(): Unit = {
    spark.stop()
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  test("the battery has the 22 TPC-H queries") {
    assert(TpchSql.names.size == 22)
    assert(TpchSql.names.map(_.takeWhile(_ != '_')) == (1 to 22).map(i => s"q$i"))
  }

  test("the same seed generates the same tables; another seed different ones") {
    def digest(seed: Long) = TpchData.tables(spark, seed, 0.001).map { case (n, df) =>
      n -> TpchSql.digest(df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*).collect().toSeq)
    }
    assert(digest(7) == digest(7))
    assert(digest(7).filter(_._1 == "lineitem") != digest(8).filter(_._1 == "lineitem"))
  }

  test("every Spark SQL text parses") {
    TpchSql.names.foreach { n =>
      withClue(n) { spark.sessionState.sqlParser.parsePlan(TpchSql.texts(n)) }
    }
  }

  test("every Spark SQL text matches its DataFrame builder at sf0.001") {
    val bad = TpchSql.names.flatMap { n =>
      val viaSql = spark.sql(TpchSql.texts(n)).collect().toSeq
      val viaDf = graft.SparkEntry.queries(n)(spark, dir).collect().toSeq
      val (a, b) = (TpchSql.canonRows(viaSql), TpchSql.canonRows(viaDf))
      if (a == b && a.nonEmpty) None
      else Some(s"$n: sql ${a.size} rows ${a.take(2)} vs builder ${b.size} rows ${b.take(2)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
