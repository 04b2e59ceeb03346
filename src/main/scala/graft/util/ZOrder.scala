package graft.util

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout for multi-dimensional scan pruning — the data
  * LAYOUT side of the 100 TB story, complementing [[Bucketing]]'s
  * join-side story: a corpus clustered on the interleaved bits of two
  * dimension keys serves 2-D box predicates from a small set of
  * partitions instead of a full scan, because spatially-close rows land
  * in the same z-bucket (Morton 1966; the public space-filling-curve
  * clustering discipline, re-derived from the classic bit-interleaving
  * construction).
  *
  * Everything is exact integer arithmetic shared verbatim with the
  * DuckDB oracle (the [[graft.functions.Text.sqlTokens]] frozen-twin
  * discipline): cells are integer-division quantiles of a DECLARED
  * inclusive domain (`div` in Spark SQL, `//` in DuckDB — identical on
  * the non-negative operands the domain require guarantees), the
  * z-value is the classic 5-step shift-or-mask bit spread, and both
  * have `sql*` twins — so a gate query can recompute the layout's own
  * bucket ids in an independent engine and hash-match the Morton
  * arithmetic itself.
  *
  * Scale shape: the layout write is one shuffle (repartition by
  * z-bucket) paid once; a box query reads only the buckets whose cell
  * rectangle intersects the box — driver-side arithmetic over ≤ 4^bits
  * bucket ids, an IN-list partition filter (directory pruning), never a
  * data scan to decide — plus the exact residual predicate inside the
  * surviving buckets. Pruning power is the box's cell coverage: a box
  * spanning cx × cy cells reads cx·cy of the 4^bits buckets
  * (ZOrderSpec pins the PartitionFilters receipt).
  */
object ZOrder {

  /** An inclusive integer domain for one layout dimension. */
  final case class Dim(name: String, lo: Long, hi: Long) {
    require(hi >= lo, s"dim $name: inverted domain [$lo, $hi]")
    def span: Long = hi - lo + 1
  }

  /** Max bits per dimension: two 16-bit cell ids interleave into a
    * 32-bit z — far beyond any useful partition count. */
  val MaxBits = 16

  private def checkDims(d: Dim, bits: Int): Unit = {
    require(bits >= 1 && bits <= MaxBits, s"bits must be in [1, $MaxBits], got $bits")
    require(d.span <= (1L << 62) / (1L << bits),
      s"dim ${d.name}: span ${d.span} * 2^$bits would overflow the cell " +
        "multiply — shrink the domain or bits (refused loudly, never " +
        "clamped silently)")
  }

  /** Cell id of the dimension column in [0, 2^bits): ((v − lo) · 2^bits)
    * div span — exact integral arithmetic end to end (no doubles whose
    * rounding could cross a cell boundary). In-domain values only;
    * [[writeLayout]] refuses rows outside the declared domains because
    * they would fold into edge cells and make bucket pruning silently
    * UNSOUND for them. */
  def cell(d: Dim, bits: Int): Column = {
    checkDims(d, bits)
    expr(s"((CAST(`${d.name}` AS BIGINT) - ${d.lo}L) * ${1L << bits}L) div ${d.span}L")
  }

  /** DuckDB twin of [[cell]] with expression-valued domain bounds (so the
    * oracle can derive them from a CTE instead of literals): `//` is
    * DuckDB's integer division, identical to Spark's `div` on the
    * non-negative operands the domain guarantees. */
  def sqlCellExpr(valueExpr: String, loExpr: String, hiExpr: String,
                  bits: Int): String =
    s"((($valueExpr)::BIGINT - ($loExpr)) * ${1L << bits}) // (($hiExpr) - ($loExpr) + 1)"

  // the classic 32→64-bit Morton bit-spread masks (public construction)
  private val SpreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8  -> 0x00FF00FF00FF00FFL,
    4  -> 0x0F0F0F0F0F0F0F0FL,
    2  -> 0x3333333333333333L,
    1  -> 0x5555555555555555L)

  /** Spread the low 16 bits of a cell id so they occupy even bit
    * positions (bit i → bit 2i). Pure bitwise Column expression —
    * whole-stage-codegen'd, no UDF. */
  def spreadBits(c: Column): Column =
    SpreadSteps.foldLeft(c) { case (x, (sh, mask)) =>
      shiftleft(x, sh).bitwiseOR(x).bitwiseAND(lit(mask))
    }

  /** DuckDB twin of [[spreadBits]]. */
  def sqlSpreadBits(e: String): String =
    SpreadSteps.foldLeft(s"($e)") { case (x, (sh, mask)) =>
      s"((($x << $sh) | $x) & $mask)"
    }

  /** Morton z-value of two cell ids (x in even bits, y in odd). */
  def zvalue(cx: Column, cy: Column): Column =
    spreadBits(cx).bitwiseOR(shiftleft(spreadBits(cy), 1))

  /** DuckDB twin of [[zvalue]]. */
  def sqlZValue(cxExpr: String, cyExpr: String): String =
    s"(${sqlSpreadBits(cxExpr)} | (${sqlSpreadBits(cyExpr)} << 1))"

  /** Driver-side [[spreadBits]]/[[zvalue]] — for bucket enumeration and
    * spec cross-checks (same fold, same masks). */
  def spreadBitsLocal(c: Long): Long =
    SpreadSteps.foldLeft(c) { case (x, (sh, mask)) => ((x << sh) | x) & mask }
  def zvalueLocal(cx: Long, cy: Long): Long =
    spreadBitsLocal(cx) | (spreadBitsLocal(cy) << 1)

  /** The z-bucket of a row: interleaved cell ids of the two dimension
    * columns. */
  def zbucket(x: Dim, y: Dim, bits: Int): Column =
    zvalue(cell(x, bits), cell(y, bits))

  /** Write `df` clustered by z-bucket: one repartition on the bucket id
    * (the once-paid layout shuffle), then parquet partitioned by `__zb` —
    * directory-level pruning for every later box query. With
    * `validate = true` (the Verify gate's default via `graft.selfcheck`)
    * rows outside the declared domains are REFUSED — at production scale
    * the validating pass costs one extra scan, so ingest pipelines that
    * already enforce domains may skip it explicitly. */
  def writeLayout(df: DataFrame, x: Dim, y: Dim, bits: Int, path: String,
      validate: Boolean = SelfCheck.enabled): Unit = {
    checkDims(x, bits); checkDims(y, bits)
    if (validate) {
      val bad = df.where(
          !(col(x.name).cast("long").between(x.lo, x.hi) &&
            col(y.name).cast("long").between(y.lo, y.hi)))
        .select(x.name, y.name).limit(3).collect()
      require(bad.isEmpty,
        s"writeLayout: rows outside declared domains ${x.name}∈[${x.lo},${x.hi}] " +
          s"${y.name}∈[${y.lo},${y.hi}] — e.g. ${bad.mkString(", ")}; widen the " +
          "dims (bucket pruning would silently skip out-of-domain rows)")
    }
    df.withColumn("__zb", zbucket(x, y, bits))
      .repartition(col("__zb"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("__zb")
      .parquet(path)
  }

  def readLayout(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-buckets whose cell rectangle intersects the (domain-clamped) box —
    * driver-side integer arithmetic over bucket IDS only (≤ 4^bits of
    * them), never data. Empty when the box misses the domain. */
  def bucketsForBox(x: Dim, y: Dim, bits: Int,
      xlo: Long, xhi: Long, ylo: Long, yhi: Long): Seq[Long] = {
    checkDims(x, bits); checkDims(y, bits)
    def cellOf(v: Long, d: Dim): Long = ((v - d.lo) * (1L << bits)) / d.span
    def cellRange(lo: Long, hi: Long, d: Dim): Option[(Long, Long)] = {
      val clo = math.max(lo, d.lo); val chi = math.min(hi, d.hi)
      if (clo > chi) None else Some((cellOf(clo, d), cellOf(chi, d)))
    }
    (for {
      (cx0, cx1) <- cellRange(xlo, xhi, x).toSeq
      (cy0, cy1) <- cellRange(ylo, yhi, y).toSeq
      cx <- cx0 to cx1
      cy <- cy0 to cy1
    } yield zvalueLocal(cx, cy)).sorted
  }

  /** Exact box query over a [[writeLayout]] table: IN-list partition
    * filter on the surviving z-buckets (directory pruning) + the exact
    * residual predicate. Definitionally equal to filtering the raw
    * table — the brute SQL is a full oracle. */
  def boxQuery(layout: DataFrame, x: Dim, y: Dim, bits: Int,
      xlo: Long, xhi: Long, ylo: Long, yhi: Long): DataFrame = {
    val zbs = bucketsForBox(x, y, bits, xlo, xhi, ylo, yhi)
    layout
      .where(col("__zb").isin(zbs: _*))
      .where(col(x.name).cast("long").between(xlo, xhi) &&
             col(y.name).cast("long").between(ylo, yhi))
  }

  // -------------------------------------------------- ownership economics

  /** Measured bucket coverage of a workload's boxes: the mean fraction
    * of the 4^bits buckets a box touches — driver arithmetic over
    * [[bucketsForBox]], never data. This is the advisor's honesty
    * boundary: coverage is workload GEOMETRY, so callers measure it
    * from their real boxes (the covering-depth discipline of
    * `graft.search.AnnPlanner`), not from hope. */
  def measureCoverage(x: Dim, y: Dim, bits: Int,
      boxes: Seq[(Long, Long, Long, Long)]): Double = {
    require(boxes.nonEmpty, "measureCoverage needs at least one box")
    val total = (1L << bits).toDouble * (1L << bits).toDouble
    boxes.map { case (x0, x1, y0, y1) =>
      bucketsForBox(x, y, bits, x0, x1, y0, y1).size.toDouble / total
    }.sum / boxes.size
  }

  /** Layout-ownership advice: build the z-order layout at all? */
  final case class LayoutAdvice(
      layoutCostUnits: Long, perQuerySavingUnits: Long,
      breakEvenQueries: Long, build: Boolean)

  /** The [[graft.search.AnnPlanner.adviseBuild]] discipline for the
    * layout decision: one clustering pass (read + clustered write ≈ 2n
    * scan units) pays for itself once the workload saves more scan than
    * the clustering cost. Per-box saving ≈ n·(1 − coverage) scan units
    * — an un-clustered box query scans everything, a clustered one
    * scans the covered buckets (assumes near-uniform bucket mass, which
    * the integral-division cells give on near-uniform keys; heavily
    * skewed keys make coverage an underestimate of mass — stated, not
    * hidden). Coverage ≥ 1 (boxes span the domain) can never pay:
    * refused as `build = false` with an infinite break-even rather than
    * advised from a division by zero. */
  def adviseLayout(n: Long, coverage: Double,
      expectedBoxQueries: Long): LayoutAdvice = {
    require(n > 0, s"adviseLayout: n must be positive, got $n")
    require(coverage >= 0 && coverage <= 1,
      s"adviseLayout: coverage is a fraction, got $coverage")
    require(expectedBoxQueries >= 0,
      s"adviseLayout: expectedBoxQueries must be >= 0, got $expectedBoxQueries")
    val layoutCost = 2L * n
    val saving = math.floor(n.toDouble * (1.0 - coverage)).toLong
    if (saving <= 0L)
      LayoutAdvice(layoutCost, 0L, Long.MaxValue, build = false)
    else {
      val breakEven = (layoutCost + saving - 1L) / saving // ceil-div
      LayoutAdvice(layoutCost, saving, breakEven,
        build = expectedBoxQueries >= breakEven)
    }
  }

  /** Fold-the-tail advice for an INCREMENTAL layout
    * ([[graft.index.IndexStore.saveZOrder]] family): appended waves sit
    * in an unclustered tail that every box query scans FULLY (exactness
    * is free, pruning is not), so folding the tail back into the
    * clustered base pays once the workload saves more tail scan than
    * the re-cluster costs. */
  final case class FoldAdvice(
      foldCostUnits: Long, perQuerySavingUnits: Long,
      breakEvenQueries: Long, fold: Boolean)

  /** Per-query saving ≈ tailN·(1 − coverage): today a box query scans
    * the whole tail; after the fold it scans only the covered buckets'
    * share of those rows (same near-uniform-mass assumption as
    * [[adviseLayout]], stated not hidden). Fold cost = read + rewrite
    * the whole layout (base AND tail — re-clustering is a full
    * rewrite, which is exactly why appends don't pay it per wave).
    * A domain-spanning workload (coverage ≥ 1) can never profit from
    * folding: refused with an infinite break-even, not divided by
    * zero. */
  def adviseFold(baseN: Long, tailN: Long, coverage: Double,
      expectedBoxQueries: Long): FoldAdvice = {
    require(baseN >= 0, s"adviseFold: baseN must be >= 0, got $baseN")
    require(tailN >= 0, s"adviseFold: tailN must be >= 0, got $tailN")
    require(coverage >= 0 && coverage <= 1,
      s"adviseFold: coverage is a fraction, got $coverage")
    require(expectedBoxQueries >= 0,
      s"adviseFold: expectedBoxQueries must be >= 0, got $expectedBoxQueries")
    val foldCost = 2L * (baseN + tailN)
    val saving = math.floor(tailN.toDouble * (1.0 - coverage)).toLong
    if (saving <= 0L)
      FoldAdvice(foldCost, 0L, Long.MaxValue, fold = false)
    else {
      val breakEven = (foldCost + saving - 1L) / saving // ceil-div
      FoldAdvice(foldCost, saving, breakEven,
        fold = expectedBoxQueries >= breakEven)
    }
  }
}
