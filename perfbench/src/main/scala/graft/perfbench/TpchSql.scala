package graft.perfbench

import org.apache.spark.sql.Row

/** The 22 TPC-H queries as Spark SQL text, as a client sends them.
  *
  * The text comes from the program's DuckDB oracle SQL
  * (`SparkEntry.oracleSql`), with the two DuckDB-only type names mapped
  * to Spark's: `HUGEINT` casts become `DECIMAL(38,0)` and `VARCHAR`
  * casts become `STRING`. All 22 mapped texts run on Spark and match
  * their DataFrame builders (TpchSqlSpec), so no query is fixed by hand.
  */
object TpchSql {

  /** Registry keys of the TPC-H battery, in query-number order. */
  val names: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq
      .sortBy(_.takeWhile(_ != '_').drop(1).toInt)

  def sparkDialect(duckSql: String): String =
    duckSql.replaceAll("(?i)AS\\s+HUGEINT", "AS DECIMAL(38,0)")
      .replaceAll("(?i)AS\\s+VARCHAR", "AS STRING")

  lazy val texts: Map[String, String] =
    names.map(n => n -> sparkDialect(graft.SparkEntry.oracleSql(n))).toMap

  /** Canonical text of one value, so a row decoded from the Arrow wire
    * and a row collected in-process compare equal when their values do
    * (integral widths, decimal scales and date/time classes differ
    * between the two paths).
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: java.math.BigDecimal =>
      val s = b.stripTrailingZeros
      if (s.scale <= 0) s.toBigIntegerExact.toString else s.toPlainString
    case b: BigDecimal => canon(b.underlying)
    case n: Byte => n.toLong.toString
    case n: Short => n.toLong.toString
    case n: Int => n.toLong.toString
    case n: Long => n.toString
    case f: Float => canon(f.toDouble)
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else canon(new java.math.BigDecimal(d.toString))
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  def canonRows(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => canon(r.get(i))).mkString("|"))

  /** Order-sensitive digest of a result (every query has a total ORDER BY). */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    canonRows(rows).foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString + s"/${rows.size}"
  }
}
