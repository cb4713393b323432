package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Probabilistic-structure operators beyond the KMV sketch (kmv1):
  * a HyperLogLog register sketch and a Bloom-filter join-pruning pass.
  *
  * Both follow the repo's portable-hash discipline (the dd3/dd4/kmv1
  * pattern): every pseudo-random bit comes from md5 over the value, so
  * a DuckDB oracle recomputes the IDENTICAL registers / bit positions
  * and the driver hash-checks the approximation itself, not just its
  * envelope. Reference anchor: the reference engine exposes
  * approx_count_distinct-style sketches through its embedded engine's
  * aggregate surface (swanlake-core/src/engine/mod.rs query path); the
  * Spark-native scale story is noted per operator.
  */
object Sketches {

  /** The one md5 slot-position family behind bf1/cms1/cms2:
    * md5("prefix#i#key") first 8 hex chars mod width. `sqlMdPos` is the
    * oracle twin — callers pass the key pre-cast to VARCHAR where the
    * Spark side relies on concat_ws's implicit cast.
    */
  private def mdPos(prefix: String, i: Int, key: org.apache.spark.sql.Column,
      width: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("#", lit(prefix), lit(i), key)), 1, 8), 16, 10)
      .cast(LongType) % width

  private def sqlMdPos(prefix: String, i: Int, key: String, width: Int): String =
    s"(('0x' || substring(md5(concat_ws('#', '$prefix', '$i', $key)), 1, 8))::BIGINT % $width)"

  // === hll1: HyperLogLog register sketch ===================================
  val hllBuckets = 64 // m; 6 bits of the 32-bit md5-prefix hash
  val hllValueBits = 27 // 26-bit remainder => rho in [1, 27]
  /** alpha_64 * m^2 * 2^27 — the estimator numerator. Spelled as the
    * same left-associated product in the oracle so the folded double is
    * bit-identical.
    */
  private val hllNumerator = "0.709 * 4096 * 134217728.0"

  /** The linear-counting branch's m * ln(m / V) for every possible
    * zero-register count V in [1, m]: neither engine guarantees a
    * correctly-rounded ln(), but V has only 64 possible values, so the
    * correction becomes a literal lookup whose doubles are formatted
    * once (shortest round-trip repr) and parsed correctly-rounded by
    * BOTH engines — bit-identical by construction.
    */
  private val lcTable: IndexedSeq[(Int, Double)] =
    (1 to hllBuckets).map(v => v -> hllBuckets * math.log(hllBuckets.toDouble / v))

  /** The full estimator (raw harmonic-register form + linear-counting
    * branch) over exact integer inputs: s_present = sum of 2^(27-M_j)
    * over PRESENT registers, n_reg = the present-register count.
    */
  private def hllEstimate(sPresent: org.apache.spark.sql.Column,
      nReg: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sTotal = sPresent + (lit(hllBuckets.toLong) - nReg) * lit(1L << hllValueBits)
    val raw = expr(hllNumerator) / sTotal.cast(DoubleType)
    val vZero = lit(hllBuckets.toLong) - nReg
    val lc = lcTable.foldLeft(lit(Double.NaN)) { case (acc, (v, d)) =>
      when(vZero === v.toLong, lit(d)).otherwise(acc)
    }
    when(vZero > 0 && raw <= lit(2.5 * hllBuckets), lc).otherwise(raw)
  }

  /** DuckDB twin of `hllEstimate` as a SQL fragment over the given
    * expressions — the identical operation sequence, so the doubles
    * match bit-for-bit.
    */
  private def hllEstimateSql(sPresent: String, nReg: String): String = {
    val lcCase = lcTable.map { case (v, d) => s"WHEN ${hllBuckets - v} THEN $d" }.mkString(" ")
    val raw = s"($hllNumerator) / CAST(($sPresent) + (${hllBuckets} - ($nReg)) * ${1L << hllValueBits} AS DOUBLE)"
    s"""CASE WHEN ($hllBuckets - ($nReg)) > 0 AND $raw <= ${2.5 * hllBuckets}
       |    THEN CASE ($nReg) $lcCase ELSE CAST('nan' AS DOUBLE) END
       |    ELSE $raw END""".stripMargin
  }

  /** HLL distinct-shingle estimate per source, next to the exact count —
    * the same 3-gram shingle domain as kmv1, so the two sketch families
    * are directly comparable on accuracy per byte of state.
    *
    * Register arithmetic stays in exact integers end-to-end: rho is the
    * leading-one position of the 26-bit hash remainder, each register
    * contributes 2^(27 - M_j) (a BIGINT), absent registers contribute
    * 2^27, and the register sum S (<= 64 * 2^27 = 2^33) converts to
    * double ONCE for the single estimator division — so the
    * float-summation order that makes the textbook harmonic mean
    * nondeterministic under parallel aggregation never appears, on
    * either engine. The small-range regime (raw estimate <= 2.5m with
    * empty registers) takes the standard linear-counting branch via
    * `lcTable` — see its doc for why that stays bit-portable.
    *
    * Shape at 100 TB: HLL registers are max-merge monoids, so the
    * groupBy(source, bucket) partial-aggregates map-side to <= 64 rows
    * per source per partition before any exchange; the per-source
    * rollup then moves 64 longs per source. The exact-count branch
    * (the verification baseline) is the only part that shuffles the
    * full distinct shingle set — a deployment drops it and keeps the
    * sketch.
    */
  /** The shared HLL register derivation — md5-prefix hash, 6-bit
    * bucket, 26-bit remainder rank. ONE definition for hll1 AND hll2
    * (plus the SQL twins via [[hllRhoSql]]/[[hllBucketSql]]): a
    * divergent copy desynchronizes the two sketches from each other
    * and from their oracles — the exact drift the file header warns
    * about.
    */
  private def hllHash: Column =
    conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast(LongType)
  private def hllBucket(h: Column): Column = h.bitwiseAND(lit((hllBuckets - 1).toLong))
  private def hllRho(h: Column): Column = {
    val v = shiftright(h, 6) // 26-bit remainder
    when(v > 0, lit(hllValueBits) - length(bin(v))).otherwise(lit(hllValueBits))
  }
  private def hllHashSql(tok: String): String =
    s"('0x' || substring(md5($tok), 1, 8))::BIGINT"
  private def hllBucketSql(h: String): String = s"($h) % $hllBuckets"
  private def hllRhoSql(h: String): String =
    s"CASE WHEN (($h) >> 6) > 0 THEN $hllValueBits - length(bin(($h) >> 6)) ELSE $hllValueBits END"

  def hllSketch(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.sourceShingles(s, dir)
      .withColumn("h", hllHash)
    val bucket = hllBucket(col("h"))
    val rho = hllRho(col("h"))
    val regs = toks
      .select(col("source"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m"), count(lit(1)).as("n_toks"))
    val perSource = regs.groupBy(col("source")).agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - m)")).as("s_present"),
      count(lit(1)).as("n_registers"),
      sum(col("n_toks")).as("n_exact"))
    val est = hllEstimate(col("s_present"), col("n_registers"))
    perSource
      .select(col("source"), col("n_exact"),
        col("n_registers"),
        est.as("hll_estimate"),
        ((est - col("n_exact").cast(DoubleType)) / col("n_exact").cast(DoubleType))
          .as("rel_error"))
      .orderedSmall(col("source"))
  }

  def hllSketchSql: String =
    s"""WITH raw_toks AS (
       |  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |toks AS (
       |  SELECT DISTINCT source, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS tok
       |  FROM raw_toks WHERE len(t) >= 3),
       |h AS (
       |  SELECT source, tok, ${hllHashSql("tok")} AS h FROM toks),
       |rho AS (
       |  SELECT source, ${hllBucketSql("h")} AS bucket,
       |    ${hllRhoSql("h")} AS rho
       |  FROM h),
       |regs AS (
       |  SELECT source, bucket, MAX(rho) AS m, COUNT(*) AS n_toks
       |  FROM rho GROUP BY source, bucket),
       |per_source AS (
       |  SELECT source,
       |    CAST(SUM(CAST(1 AS BIGINT) << (27 - m)) AS BIGINT) AS s_present,
       |    COUNT(*) AS n_registers,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_exact
       |  FROM regs GROUP BY source),
       |est AS (
       |  SELECT source, n_exact, n_registers,
       |    ${hllEstimateSql("s_present", "n_registers")} AS hll_estimate
       |  FROM per_source)
       |SELECT source, n_exact, n_registers, hll_estimate,
       |  (hll_estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
       |FROM est ORDER BY source""".stripMargin

  // === bf1: Bloom-filter join pruning ======================================
  val bloomBits = 16384 // m
  val bloomHashes = 3 // k

  /** Bloom-filter semi-join pruning, measured: build a 16384-bit filter
    * over the high-balance customer keys (c_acctbal > 9000), probe every
    * distinct ordering customer, and report the exact candidate /
    * true-match / false-positive ledger plus the realized FP rate.
    *
    * This is the runtime-filter pattern (Spark's own
    * spark.sql.optimizer.runtime.bloomFilter does the same dance
    * opaquely): the filter's set-bit table is WHAT gets broadcast, the
    * big side is pruned before its expensive join/shuffle. Here the
    * probe side keeps only rows whose k positions are ALL set.
    *
    * Determinism: positions are md5-derived, the filter is a distinct
    * position SET (not a packed bitmap), membership is an exact
    * count-match against the probe key's own distinct position count —
    * the double-hash-collision case (two of a key's k positions equal)
    * is counted once on both sides, so no false negatives by
    * construction and the FP count is engine-identical.
    *
    * Shape at 100 TB: the build side aggregates to <= m distinct
    * positions (a few KB — broadcast); the probe side is map-only
    * explode(k) + broadcast-semi-join + per-key count, one combinable
    * shuffle on the probe key. The final ledger is a single-row
    * aggregate.
    */
  def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    def positions(key: org.apache.spark.sql.Column) =
      (0 until bloomHashes).map(i => mdPos("bf", i, key, bloomBits))
    val keys = t(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    val bits = keys
      .select(explode(array(positions(col("c_custkey")): _*)).as("pos"))
      .distinct()
    val probes = t(s, dir, "orders").select(col("o_custkey")).distinct()
      .select(col("o_custkey"), explode(array(positions(col("o_custkey")): _*)).as("pos"))
      .distinct()
    val probed = probes
      .join(broadcast(bits.withColumn("set_bit", lit(1))), Seq("pos"), "left")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_pos"), count(col("set_bit")).as("n_hit"))
      .withColumn("candidate", (col("n_pos") === col("n_hit")).cast(IntegerType))
    val truth = keys.select(col("c_custkey").as("o_custkey")).withColumn("is_member", lit(1))
    val ledger = probed.join(broadcast(truth), Seq("o_custkey"), "left")
      .agg(
        count(lit(1)).as("n_probed"),
        sum(col("candidate")).cast(LongType).as("n_candidates"),
        sum(coalesce(col("is_member"), lit(0))).cast(LongType).as("n_true"),
        sum(when(col("candidate") === 1 && col("is_member").isNull, 1L).otherwise(0L))
          .cast(LongType).as("n_false_pos"))
    val nKeys = keys.agg(count(lit(1)).as("n_keys"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    ledger.crossJoin(nKeys).crossJoin(nBits)
      .select(col("n_keys"), col("n_bits_set"), col("n_probed"), col("n_candidates"),
        col("n_true"), col("n_false_pos"),
        // NULL (not NaN/inf) when every probe is a true member — the
        // denominator is the non-member count; NULLIF twin in the oracle
        when(col("n_probed") > col("n_true"),
          col("n_false_pos").cast(DoubleType) /
            (col("n_probed") - col("n_true")).cast(DoubleType)).as("fp_rate"))
  }

  def bloomPruneSql: String = {
    def pos(i: Int, key: String) = sqlMdPos("bf", i, s"CAST($key AS VARCHAR)", bloomBits)
    val keyPos = (0 until bloomHashes).map(i => pos(i, "c_custkey")).mkString(", ")
    val probePos = (0 until bloomHashes).map(i => pos(i, "o_custkey")).mkString(", ")
    s"""WITH keys AS (
       |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
       |bits AS (
       |  SELECT DISTINCT UNNEST([$keyPos]) AS pos FROM keys),
       |probe_pos AS (
       |  SELECT DISTINCT o_custkey, UNNEST([$probePos]) AS pos
       |  FROM (SELECT DISTINCT o_custkey FROM orders)),
       |probed AS (
       |  SELECT p.o_custkey, COUNT(*) AS n_pos, COUNT(b.pos) AS n_hit
       |  FROM probe_pos p LEFT JOIN bits b ON p.pos = b.pos
       |  GROUP BY p.o_custkey),
       |ledger AS (
       |  SELECT
       |    COUNT(*) AS n_probed,
       |    CAST(SUM(CASE WHEN n_pos = n_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       |    CAST(SUM(CASE WHEN k.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN n_pos = n_hit AND k.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_false_pos
       |  FROM probed LEFT JOIN keys k ON probed.o_custkey = k.c_custkey)
       |SELECT
       |  (SELECT COUNT(*) FROM keys) AS n_keys,
       |  (SELECT COUNT(*) FROM bits) AS n_bits_set,
       |  n_probed, n_candidates, n_true, n_false_pos,
       |  CAST(n_false_pos AS DOUBLE) / CAST(NULLIF(n_probed - n_true, 0) AS DOUBLE) AS fp_rate
       |FROM ledger""".stripMargin
  }

  // === hll2: sketch union / intersection (mergeability) ====================
  val hllUnionSources = Seq("src0", "src1", "src2", "src3", "src4")

  /** The property that makes HLL the distributed-systems sketch: two
    * register tables MERGE by per-bucket max, and the merged table IS
    * the sketch of the union — no rescan. For each source pair this
    * emits the union estimate from merged registers and the
    * inclusion-exclusion intersection estimate next to their exact
    * counterparts, over the same shingle domain as hll1/kmv1.
    *
    * Shape at 100 TB: this is how per-partition / per-day / per-shard
    * sketches roll up to global cardinalities — register tables are
    * 64 longs each, the merge is a max-aggregate over them, and the
    * exact branch (quadratic in sources, a full shingle self-join)
    * exists here only as the verification baseline.
    */
  def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val sh = TextAnalysis.sourceShingles(s, dir)
      .filter(col("source").isin(hllUnionSources: _*))
      .withColumn("h", hllHash)
    val keyed = sh.select(col("source"), col("shingle"),
      hllBucket(col("h")).as("bucket"), hllRho(col("h")).as("rho"))
    val regs = keyed.groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m"), count(lit(1)).as("n_toks"))
    val srcs = regs.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    // ONE pairs x regs pass carries the union-merged AND the two
    // side-specific register states (a 7-scan star shape otherwise: the
    // full shingle pipeline re-executes per consumer — the round-11
    // lesson applied to sketches). The register table is sources x 64
    // rows, so the per-pair explode is trivially small.
    val pairBuckets = pairs
      .join(regs, col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("bucket"))
      .agg(max(col("m")).as("m_u"),
        max(when(col("source") === col("src_a"), col("m"))).as("m_a"),
        max(when(col("source") === col("src_b"), col("m"))).as("m_b"),
        sum(when(col("source") === col("src_a"), col("n_toks"))).as("nt_a"),
        sum(when(col("source") === col("src_b"), col("n_toks"))).as("nt_b"))
    val perPair = pairBuckets.groupBy(col("src_a"), col("src_b"))
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - m_u)")).as("sp_u"),
        count(lit(1)).as("nr_u"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - m_a)")).as("sp_a"),
        count(col("m_a")).as("nr_a"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - m_b)")).as("sp_b"),
        count(col("m_b")).as("nr_b"),
        sum(coalesce(col("nt_a"), lit(0L))).as("n_exact_a"),
        sum(coalesce(col("nt_b"), lit(0L))).as("n_exact_b"))
      .withColumn("est_union", hllEstimate(col("sp_u"), col("nr_u")))
      .withColumn("est_a", hllEstimate(col("sp_a"), col("nr_a")))
      .withColumn("est_b", hllEstimate(col("sp_b"), col("nr_b")))
    // exact intersection: the distinct shingle self-join (baseline only)
    val inter = keyed.select(col("source").as("src_a"), col("shingle"))
      .join(keyed.select(col("source").as("src_b"), col("shingle")), "shingle")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_exact_intersect"))
    perPair
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        (col("n_exact_a") + col("n_exact_b") - coalesce(col("n_exact_intersect"), lit(0L)))
          .as("n_exact_union"),
        col("est_union").as("hll_union_estimate"),
        coalesce(col("n_exact_intersect"), lit(0L)).as("n_exact_intersect"),
        (col("est_a") + col("est_b") - col("est_union")).as("hll_intersect_estimate"))
      .orderedSmall(col("src_a"), col("src_b"))
  }

  def hllUnionSql: String = {
    val srcList = hllUnionSources.map(s => s"'$s'").mkString(", ")
    s"""WITH raw_toks AS (
       |  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents WHERE source IN ($srcList)),
       |toks AS (
       |  SELECT DISTINCT source, UNNEST(list_transform(generate_series(1, len(t) - 2),
       |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS tok
       |  FROM raw_toks WHERE len(t) >= 3),
       |keyed AS (
       |  SELECT source, tok,
       |    ${hllBucketSql(hllHashSql("tok"))} AS bucket,
       |    ${hllRhoSql(hllHashSql("tok"))} AS rho
       |  FROM toks),
       |regs AS (
       |  SELECT source, bucket, MAX(rho) AS m, COUNT(*) AS n_toks
       |  FROM keyed GROUP BY source, bucket),
       |singles AS (
       |  SELECT source,
       |    CAST(SUM(CAST(1 AS BIGINT) << (27 - m)) AS BIGINT) AS sp,
       |    COUNT(*) AS nr,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_exact
       |  FROM regs GROUP BY source),
       |est_singles AS (
       |  SELECT source, n_exact, ${hllEstimateSql("sp", "nr")} AS est FROM singles),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM singles a, singles b WHERE a.source < b.source),
       |merged AS (
       |  SELECT p.src_a, p.src_b, r.bucket, MAX(r.m) AS m
       |  FROM pairs p JOIN regs r ON r.source = p.src_a OR r.source = p.src_b
       |  GROUP BY p.src_a, p.src_b, r.bucket),
       |merged_agg AS (
       |  SELECT src_a, src_b,
       |    CAST(SUM(CAST(1 AS BIGINT) << (27 - m)) AS BIGINT) AS sp_u,
       |    COUNT(*) AS nr_u
       |  FROM merged GROUP BY src_a, src_b),
       |est_union AS (
       |  SELECT src_a, src_b, ${hllEstimateSql("sp_u", "nr_u")} AS est_union
       |  FROM merged_agg),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_int
       |  FROM keyed a JOIN keyed b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT p.src_a, p.src_b,
       |  ea.n_exact + eb.n_exact - COALESCE(i.n_int, 0) AS n_exact_union,
       |  u.est_union AS hll_union_estimate,
       |  COALESCE(i.n_int, 0) AS n_exact_intersect,
       |  ea.est + eb.est - u.est_union AS hll_intersect_estimate
       |FROM pairs p
       |JOIN est_union u ON u.src_a = p.src_a AND u.src_b = p.src_b
       |JOIN est_singles ea ON ea.source = p.src_a
       |JOIN est_singles eb ON eb.source = p.src_b
       |LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin
  }

  // === cms1: Count-Min heavy hitters =======================================
  val cmsRows = 4 // d
  val cmsWidth = 256 // w
  val cmsTopN = 20

  /** Count-Min frequency sketch, audited on the heavy hitters: build
    * the d x w register table over token occurrences, read back the
    * top-20 exact tokens through the sketch (estimate = min over the d
    * registers), and report the guaranteed-nonnegative overcount. With
    * kmv1 (distinct), hll1 (distinct registers) and bf1 (membership)
    * this completes the classical sketch quartet, every one of them
    * hash-checked end-to-end because the hash family is md5.
    *
    * All arithmetic is integer counts — nothing to round, no IEEE
    * anywhere but the final (exact) ratio-free columns.
    *
    * Shape at 100 TB: the register build is a vocabulary-bounded
    * aggregate (token counts first — map-side combinable — then d
    * positions per DISTINCT token, never per occurrence); the register
    * table is d*w = 1024 rows (broadcast); the heavy-hitter readback
    * is TakeOrdered + a broadcast join. Two passes over the count
    * table, zero passes over raw text beyond the first tokenize.
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    def pos(i: Int, tok: org.apache.spark.sql.Column) = mdPos("cms", i, tok, cmsWidth)
    val counts = Par.fanOut(t(s, dir, "documents").select(col("text")))
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
    val regs = counts
      .select(col("n_exact"), posexplode(
        array((0 until cmsRows).map(i => pos(i, col("tok"))): _*)).as(Seq("i", "pos")))
      .groupBy(col("i"), col("pos"))
      .agg(sum(col("n_exact")).as("reg"))
    val top = counts.orderBy(col("n_exact").desc, col("tok")).limit(cmsTopN)
    top
      .select(col("tok"), col("n_exact"), posexplode(
        array((0 until cmsRows).map(i => pos(i, col("tok"))): _*)).as(Seq("i", "pos")))
      .join(broadcast(regs), Seq("i", "pos"))
      .groupBy(col("tok"))
      .agg(max(col("n_exact")).as("n_exact"), min(col("reg")).as("cms_estimate"))
      .select(col("tok"), col("n_exact"), col("cms_estimate"),
        (col("cms_estimate") - col("n_exact")).as("overcount"))
      .orderBy(col("n_exact").desc, col("tok"))
  }

  def cmsHeavyHittersSql: String = {
    def pos(i: Int, tok: String) = sqlMdPos("cms", i, tok, cmsWidth)
    val keyPos = (0 until cmsRows)
      .map(i => s"{'i': $i, 'pos': ${pos(i, "tok")}}").mkString(", ")
    s"""WITH counts AS (
       |  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |exact AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact FROM counts GROUP BY tok),
       |keyed AS (
       |  SELECT tok, n_exact, UNNEST([$keyPos]) AS ip FROM exact),
       |regs AS (
       |  SELECT ip.i AS i, ip.pos AS pos, CAST(SUM(n_exact) AS BIGINT) AS reg
       |  FROM keyed GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT $cmsTopN),
       |est AS (
       |  SELECT k.tok, MAX(k.n_exact) AS n_exact, MIN(r.reg) AS cms_estimate
       |  FROM (SELECT tok, n_exact, UNNEST([$keyPos]) AS ip FROM top) k
       |  JOIN regs r ON r.i = k.ip.i AND r.pos = k.ip.pos
       |  GROUP BY k.tok)
       |SELECT tok, n_exact, cms_estimate, cms_estimate - n_exact AS overcount
       |FROM est ORDER BY n_exact DESC, tok""".stripMargin
  }

  // === cms2: join-cardinality estimation via CMS inner product =============
  /** Planner-grade join-size estimation: |A JOIN B on key| = sum_k
    * f_A(k) * f_B(k), estimated as the minimum over the d rows of the
    * CMS register inner product — the classical AMS/CMS inner-product
    * bound (always an overestimate), next to the exact product-sum.
    * Here A = click events, B = purchase events, keyed by user — the
    * fan-out join a planner must size before choosing a strategy.
    *
    * Everything is integer arithmetic; the register tables are d*w
    * longs per side regardless of data volume, built with one
    * map-side-combinable aggregate each — THE statistic a 100 TB
    * optimizer collects per column without a second scan.
    */
  def cmsJoinCardinality(s: SparkSession, dir: String): DataFrame = {
    def pos(i: Int, key: org.apache.spark.sql.Column) = mdPos("cms", i, key, cmsWidth)
    def counts(typ: String) = t(s, dir, "events")
      .filter(col("event_type") === typ)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    def regs(c: DataFrame) = c
      .select(col("cnt"), posexplode(
        array((0 until cmsRows).map(i => pos(i, col("user_id"))): _*)).as(Seq("i", "pos")))
      .groupBy(col("i"), col("pos")).agg(sum(col("cnt")).as("reg"))
    val a = counts("click")
    val b = counts("purchase")
    val inner = regs(a).withColumnRenamed("reg", "reg_a")
      .join(regs(b).withColumnRenamed("reg", "reg_b"), Seq("i", "pos"))
      .groupBy(col("i"))
      .agg(sum(col("reg_a").cast(Exact.D380) * col("reg_b")).as("ip")) // overflow-safe at 100 TB
      .agg(min(col("ip")).cast(LongType).as("cms_estimate"))
    val exact = a.join(b.withColumnRenamed("cnt", "cnt_b"), "user_id")
      .agg(sum(col("cnt").cast(Exact.D380) * col("cnt_b")).cast(LongType).as("exact_join_size"))
    val sizes = a.agg(count(lit(1)).as("n_keys_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_keys_b")))
    sizes.crossJoin(exact).crossJoin(inner)
      .select(col("n_keys_a"), col("n_keys_b"), col("exact_join_size"),
        col("cms_estimate"),
        (col("cms_estimate") - col("exact_join_size")).as("overcount"))
  }

  def cmsJoinCardinalitySql: String = {
    def pos(i: Int, key: String) = sqlMdPos("cms", i, s"CAST($key AS VARCHAR)", cmsWidth)
    def keyPos(key: String) = (0 until cmsRows)
      .map(i => s"{'i': $i, 'pos': ${pos(i, key)}}").mkString(", ")
    s"""WITH a AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events
       |  WHERE event_type = 'click' GROUP BY user_id),
       |b AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events
       |  WHERE event_type = 'purchase' GROUP BY user_id),
       |ra AS (
       |  SELECT ip.i AS i, ip.pos AS pos, CAST(SUM(cnt) AS BIGINT) AS reg
       |  FROM (SELECT cnt, UNNEST([${keyPos("user_id")}]) AS ip FROM a)
       |  GROUP BY 1, 2),
       |rb AS (
       |  SELECT ip.i AS i, ip.pos AS pos, CAST(SUM(cnt) AS BIGINT) AS reg
       |  FROM (SELECT cnt, UNNEST([${keyPos("user_id")}]) AS ip FROM b)
       |  GROUP BY 1, 2),
       |inner_p AS (
       |  SELECT ra.i, SUM(CAST(ra.reg AS HUGEINT) * rb.reg) AS ip
       |  FROM ra JOIN rb ON ra.i = rb.i AND ra.pos = rb.pos
       |  GROUP BY ra.i),
       |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS cms_estimate FROM inner_p),
       |exact AS (
       |  SELECT CAST(SUM(CAST(a.cnt AS HUGEINT) * b.cnt) AS BIGINT) AS exact_join_size
       |  FROM a JOIN b ON a.user_id = b.user_id)
       |SELECT
       |  (SELECT COUNT(*) FROM a) AS n_keys_a,
       |  (SELECT COUNT(*) FROM b) AS n_keys_b,
       |  exact_join_size, cms_estimate,
       |  cms_estimate - exact_join_size AS overcount
       |FROM exact, est""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("hll1_hll_sketch", hllSketch _, hllSketchSql),
    Op("cms2_join_cardinality", cmsJoinCardinality _, cmsJoinCardinalitySql),
    Op("hll2_sketch_union", hllUnion _, hllUnionSql),
    Op("bf1_bloom_prune", bloomPrune _, bloomPruneSql),
    Op("cms1_heavy_hitters", cmsHeavyHitters _, cmsHeavyHittersSql))
}
