package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed principal-component analysis by the classical
  * two-stage shape: ONE corpus pass computes the exact centered
  * covariance (the only part that touches data volume), then the
  * power iteration runs on the driver over the collected d×d matrix
  * (von Mises–Pollaczek iteration — the textbook top-eigenvector
  * method, e.g. Golub & Van Loan §7.3). The reference has no linear
  * algebra at all; this extends the engine's trainer family
  * (k-means / PQ / GD classifier / decision stump) with the missing
  * member: a SPECTRAL statistic of the whole corpus.
  *
  * Exactness discipline (the house trained-state convention): vectors
  * quantize once to e6 int64, per-dimension means use truncating
  * int64 division, the covariance cells are exact integer sums of
  * centered products (order-independent, so partial-aggregate merge
  * order cannot perturb them), and each power step is
  * w = C·v in arbitrary-precision integers followed by max-abs
  * renormalization back to e6 via truncating division — no square
  * root, no float, anywhere. The whole (iter, d, v_e6) trajectory
  * therefore replays bit-for-bit in DuckDB (HUGEINT is 128-bit;
  * magnitudes here peak ~10²³, thirty orders below its range, and
  * Scala BigInt `/` and DuckDB `//` both truncate toward zero —
  * verified on negative operands).
  *
  * 100 TB shape: the covariance pass is one scan + one aggregate of
  * d(d+1)/2 integer cells (2,080 at d = 64) with map-side partial
  * combine — the exchange carries cells, never rows. The driver
  * collect is d² cells, a design constant like the ≤2¹⁴ codebook
  * bound (`Similarity.scala`). Each power step is d² driver
  * multiplies — free. Overflow headroom: centered e6 components are
  * ≤ ~1.2·10⁶, products ≤ ~1.5·10¹², so int64 cell sums hold ~6·10⁶
  * rows per cell; past that the cells aggregate would need a
  * decimal(38,0) sum (one-line change, same values) — the loud ANSI
  * overflow error marks the boundary rather than wrapping silently.
  */
object Pca {

  /** e6-quantized vectors: (idCol, xe: array<long>). The float→double
    * widening is exact and `floor(x·10⁶ + 0.5)` matches the DuckDB
    * replay's identical double expression.
    */
  def quantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("xe"))

  /** Per-dimension e6 means by truncating int64 division — one
    * aggregate of d cells.
    */
  def meansE6(xe: DataFrame): Array[Long] = {
    val rows = xe.select(posexplode(col("xe")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .collect()
    val mu = new Array[Long](rows.length)
    rows.foreach(r => mu(r.getInt(0)) = r.getLong(1) / r.getLong(2))
    mu
  }

  /** The distributed stage: exact upper-triangle covariance cells
    * (i ≤ j, 0-based) of the centered e6 vectors — (i, j, s) with
    * s = Σ rows (xe[i] − mu[i])·(xe[j] − mu[j]). The double
    * `posexplode` materializes N·d(d+1)/2 rows BEFORE the aggregate,
    * but map-side partial combine collapses each task to ≤ d(d+1)/2
    * cells, so the one exchange carries cells, never rows — the same
    * economics as the k-means update (`Similarity.kmeansTrain`).
    */
  def covCells(xe: DataFrame, muE6: Array[Long]): DataFrame = {
    val muLit = typedLit(muE6.toSeq)
    xe.select(zip_with(col("xe"), muLit, (x, m) => x - m).as("c"))
      .select(col("c"), posexplode(col("c")).as(Seq("i", "ci")))
      .select(col("i"), col("ci"), posexplode(col("c")).as(Seq("j", "cj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("ci") * col("cj")).as("s"))
  }

  /** Driver-side power iteration in BigInt: v₀ = (10⁶, …, 10⁶),
    * w = C·v, v′ = trunc(w·10⁶ / max|w|). Returns the trajectory
    * v₁ … v_iters, each an e6 int64 vector (|v| ≤ 10⁶ by
    * construction). Deterministic: no randomness, no float.
    */
  def powerTrajectory(cov: Array[Array[BigInt]], iters: Int)
      : Seq[Array[Long]] = {
    val d = cov.length
    require(d > 0, "power iteration over an empty (0-dimensional) matrix")
    var v: Array[BigInt] = Array.fill(d)(BigInt(1000000L))
    (1 to iters).map { _ =>
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      require(m > 0, "power iteration hit the zero vector " +
        "(rank-deficient covariance with an exactly orthogonal start)")
      v = w.map(wi => wi * 1000000L / m)
      v.map(_.toLong)
    }
  }

  /** RAW sufficient statistics for the INCREMENTAL covariance: per
    * dimension the plain e6 sums S[d] = Σ xe[d], per pair (i ≤ j) the
    * uncentered products P[i][j] = Σ xe[i]·xe[j], plus the row count.
    * These are PURELY ADDITIVE — stats(base ∪ Δ) = stats(base) +
    * stats(Δ) exactly, no truncation anywhere — which is what makes
    * the spectral state maintainable at |Δ| cost: the scaled centered
    * covariance n·C = n·P − S·Sᵀ is then EXACT integer algebra (the
    * n²-scaled covariance, same eigenvectors), so the delta-updated
    * trajectory is bit-equal to a full retrain by construction, not
    * by tolerance. Same one-scan cell economics as [[covCells]].
    */
  def rawStats(xe: DataFrame): (Long, Array[BigInt], Array[Array[BigInt]]) = {
    val sums = xe.select(posexplode(col("xe")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .collect()
    val d = sums.length
    if (d == 0) return (0L, Array.empty, Array.empty)
    val s = new Array[BigInt](d)
    var n = 0L
    sums.foreach { r => s(r.getInt(0)) = BigInt(r.getLong(1)); n = r.getLong(2) }
    val p = Array.fill(d)(new Array[BigInt](d))
    for (i <- 0 until d; j <- 0 until d) p(i)(j) = BigInt(0)
    // products in decimal(38,0): xe² tops ~3.6·10¹¹ per row, and the
    // int64 sum bound (~2.5·10⁷ rows) is too close to real corpus
    // sizes to bake in — decimal sums are exact at any scale
    xe.select(col("xe"), posexplode(col("xe")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("xe")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("pp"))
      .collect()
      .foreach { r =>
        val v = BigInt(r.getDecimal(2).toBigInteger)
        p(r.getInt(0))(r.getInt(1)) = v
        p(r.getInt(1))(r.getInt(0)) = v
      }
    (n, s, p)
  }

  /** [[rawStats]] in ONE pass via the custom aggregate
    * ([[graft.functions.VectorStatsAgg]]): the buffer is a single
    * flat int64 array, so the covariance scan runs inside one
    * ObjectHashAggregate with no row generation — the exploded form
    * materializes N·d(d+1)/2 rows through a 2,080-group hash map;
    * this does the same adds in-place and ships one ~17 KB buffer per
    * partition. Cell-for-cell equal to [[rawStats]] (PcaSpec pins
    * it); overflow throws via addExact/multiplyExact instead of the
    * decimal(38,0) widening the SQL path uses.
    */
  def rawStatsFused(xe: DataFrame)
      : (Long, Array[BigInt], Array[Array[BigInt]]) = {
    import graft.functions.VectorStatsAgg.vector_stats
    val flat = xe.agg(vector_stats(col("xe"))).head().getSeq[Long](0)
    parseFlatStats(flat)
  }

  /** Decode [[graft.functions.VectorStatsAgg]]'s flat buffer
    * [n, S₀..S_{d−1}, upper-tri P] into the (n, S, mirrored P) form
    * the driver algebra consumes.
    */
  def parseFlatStats(flat: Seq[Long])
      : (Long, Array[BigInt], Array[Array[BigInt]]) = {
    if (flat == null || flat.isEmpty) return (0L, Array.empty, Array.empty)
    val len = flat.length
    val d = (1 to 8192).find(dd => 1 + dd + dd * (dd + 1) / 2 == len)
      .getOrElse(throw new IllegalStateException(
        s"stats buffer length $len matches no dimension"))
    val n = flat.head
    val s = Array.tabulate(d)(i => BigInt(flat(1 + i)))
    val p = Array.fill(d)(new Array[BigInt](d))
    var idx = 1 + d
    for (i <- 0 until d; j <- i until d) {
      p(i)(j) = BigInt(flat(idx)); p(j)(i) = p(i)(j); idx += 1
    }
    (n, s, p)
  }

  /** Trunc-mean e6 means and e12 population variances from raw
    * moments — exact: Σcᵢ² = Pᵢᵢ − 2mᵢSᵢ + n·mᵢ² for the integer mᵢ.
    */
  def momentsFromStats(stats: (Long, Array[BigInt], Array[Array[BigInt]]))
      : (Array[Long], Array[Long]) = {
    val (n, s, p) = stats
    require(n > 0, "moments over an empty corpus")
    val mu = s.map(si => (si / n).toLong)
    val vn = Array.tabulate(s.length) { i =>
      val c2 = p(i)(i) - 2 * BigInt(mu(i)) * s(i) + BigInt(n) * mu(i) * mu(i)
      (c2 / n).toLong
    }
    (mu, vn)
  }

  /** The CENTERED covariance cells from raw moments — exact for the
    * integer trunc-means: Σ(xᵢ−mᵢ)(xⱼ−mⱼ) = Pᵢⱼ − mᵢSⱼ − mⱼSᵢ +
    * n·mᵢmⱼ, so this equals [[covCells]]'s distributed sums
    * bit-for-bit while costing zero extra scans.
    */
  def covFromStats(stats: (Long, Array[BigInt], Array[Array[BigInt]]),
                   muE6: Array[Long]): Array[Array[BigInt]] = {
    val (n, s, p) = stats
    val d = s.length
    Array.tabulate(d)(i => Array.tabulate(d)(j =>
      p(i)(j) - BigInt(muE6(i)) * s(j) - BigInt(muE6(j)) * s(i) +
        BigInt(n) * muE6(i) * muE6(j)))
  }

  /** Merge raw statistics (pure integer addition). */
  def mergeStats(a: (Long, Array[BigInt], Array[Array[BigInt]]),
                 b: (Long, Array[BigInt], Array[Array[BigInt]]))
      : (Long, Array[BigInt], Array[Array[BigInt]]) = {
    if (a._1 == 0) return b
    if (b._1 == 0) return a
    val d = a._2.length
    (a._1 + b._1,
      Array.tabulate(d)(i => a._2(i) + b._2(i)),
      Array.tabulate(d)(i => Array.tabulate(d)(j => a._3(i)(j) + b._3(i)(j))))
  }

  /** The n-scaled centered covariance from raw stats:
    * C[i][j] = n·P[i][j] − S[i]·S[j] — exact, no division, same
    * eigenvectors as the covariance itself (positive scaling).
    */
  def scaledCov(stats: (Long, Array[BigInt], Array[Array[BigInt]]))
      : Array[Array[BigInt]] = {
    val (n, s, p) = stats
    val d = s.length
    Array.tabulate(d)(i => Array.tabulate(d)(j =>
      BigInt(n) * p(i)(j) - s(i) * s(j)))
  }

  /** DEFLATED power iteration for the SECOND principal direction:
    * same BigInt recurrence, but after each multiply the first
    * direction is projected out with a truncating integer Gram-
    * Schmidt step — t = trunc(wᵀv₁ / v₁ᵀv₁), w′ = w − t·v₁ — before
    * the max-norm renormalization. Computing the scalar t FIRST (one
    * truncating division) keeps every magnitude ≤ ~10²³, the same
    * HUGEINT-safe envelope as the plain iteration; the start vector
    * alternates ±10⁶ so it is never parallel to a uniform v₁.
    * The projection is trunc-approximate (exact orthogonality would
    * need rationals), which is fine: it is a deterministic, bit-
    * replayable recurrence, and three steps of it converge to the
    * dominant direction of the v₁-complement exactly as the classic
    * deflation argument says (Hotelling 1933).
    */
  def powerTrajectoryDeflated(cov: Array[Array[BigInt]],
                              v1: Array[Long], iters: Int)
      : Seq[Array[Long]] = {
    val d = cov.length
    require(d > 0, "deflated power iteration over an empty matrix")
    require(v1.length == d, "v1 dimension mismatch")
    val v1b = v1.map(BigInt(_))
    val v1n2 = v1b.map(x => x * x).sum
    require(v1n2 > 0, "v1 is the zero vector")
    var u: Array[BigInt] =
      Array.tabulate(d)(i => BigInt(if (i % 2 == 0) 1000000L else -1000000L))
    (1 to iters).map { _ =>
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * u(j)).sum)
      val t = w.indices.map(i => w(i) * v1b(i)).sum / v1n2
      val wc = Array.tabulate(d)(i => w(i) - t * v1b(i))
      val m = wc.map(_.abs).max
      require(m > 0, "deflated iteration hit the zero vector")
      u = wc.map(wi => wi * 1000000L / m)
      u.map(_.toLong)
    }
  }

  /** Train once per corpus: means + full mirrored covariance +
    * trajectory. Memoized upstream ([[graft.Memo]]) — this method
    * itself is pure.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String, iters: Int)
      : (Array[Long], Seq[Array[Long]]) =
    trainFromStats(rawStatsFused(quantized(emb, idCol, vecCol)), iters)

  /** The driver half of [[train]], reusable from a memoized stats
    * object: trunc-means, the exact centered covariance via
    * [[covFromStats]], then the power iteration. (The original
    * two-scan form — [[meansE6]] + a [[covCells]] collect — computes
    * the identical matrix; it remains as the compositional reference,
    * equality pinned by PcaSpec.)
    */
  def trainFromStats(stats: (Long, Array[BigInt], Array[Array[BigInt]]),
                     iters: Int): (Array[Long], Seq[Array[Long]]) = {
    require(stats._1 > 0, "Pca.train over an empty corpus (no vectors, " +
      "or zero-length vectors)")
    val (mu, _) = momentsFromStats(stats)
    (mu, powerTrajectory(covFromStats(stats, mu), iters))
  }

  /** Scan-stage projection of every vector onto the trained direction:
    * proj_e6 = trunc(Σ_d (xe[d] − mu[d])·v[d] / 10⁶). Map-only — the
    * centered dot product runs inside whole-stage codegen
    * (zip_with + aggregate over plan literals), no shuffle, no UDF.
    */
  /** Per-dimension variance numerators (population, e12 scale):
    * vn[d] = trunc(Σ (xe[d] − mu[d])² / n) — the covariance diagonal
    * as one d-cell aggregate.
    */
  def varianceE12(xe: DataFrame, muE6: Array[Long]): Array[Long] = {
    val muLit = typedLit(muE6.toSeq)
    val rows = xe
      .select(posexplode(zip_with(col("xe"), muLit, (x, m) => x - m))
        .as(Seq("d", "c")))
      .groupBy(col("d"))
      .agg(sum(col("c") * col("c")).as("ss"), count(lit(1)).as("n"))
      .collect()
    val vn = new Array[Long](rows.length)
    rows.foreach(r => vn(r.getInt(0)) = r.getLong(1) / r.getLong(2))
    vn
  }

  /** Exact integer square root (⌊√x⌋): double sqrt is within 1 of the
    * truth for x ≤ 2⁵², so one ±1 adjustment makes it exact — the
    * same correction the DuckDB replay applies, so both engines land
    * on the identical integer with no libm-precision bet.
    */
  def isqrt(x: Long): Long = {
    require(x >= 0, s"isqrt of negative $x")
    var s = math.sqrt(x.toDouble).toLong
    if ((s + 1) * (s + 1) <= x) s += 1
    if (s * s > x) s -= 1
    s
  }

  /** Z-score standardization with the EXACT integer pipeline:
    * z_e6 = trunc((xe[d] − mu[d])·10⁶ / sd[d]) where
    * sd[d] = ⌊√(vn[d])⌋ (e6-scale population σ). Constant dimensions
    * (sd = 0) standardize to 0. Map-only serving: mu/sd are plan
    * literals, the explode + arithmetic run in the scan stage —
    * standardization of a 100 TB corpus is one pass, zero shuffle.
    */
  def standardize(emb: DataFrame, idCol: String, vecCol: String,
                  muE6: Array[Long], sdE6: Array[Long]): DataFrame = {
    val muLit = typedLit(muE6.toSeq)
    val sdLit = typedLit(sdE6.toSeq)
    quantized(emb, idCol, vecCol)
      .select(col(idCol),
        posexplode(zip_with(col("xe"), muLit, (x, m) => x - m))
          .as(Seq("d", "c")))
      .withColumn("sd", element_at(sdLit, col("d") + 1))
      .selectExpr(idCol, "d",
        "CASE WHEN sd = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (c * 1000000) DIV sd END AS z_e6")
  }

  def project(emb: DataFrame, idCol: String, vecCol: String,
              muE6: Array[Long], vE6: Array[Long]): DataFrame = {
    val muLit = typedLit(muE6.toSeq)
    val vLit = typedLit(vE6.toSeq)
    val centered = zip_with(col("xe"), muLit, (x, m) => x - m)
    val prods = zip_with(centered, vLit, (c, v) => c * v)
    val praw = aggregate(prods, lit(0L), (acc, x) => acc + x)
    quantized(emb, idCol, vecCol)
      .select(col(idCol), praw.as("praw"))
      // DIV = integral division truncating toward zero on bigint,
      // matching BigInt `/` and DuckDB `//` (praw goes negative)
      .selectExpr(idCol, "praw DIV 1000000 AS proj_e6")
  }

  /** Projection onto the trained 2-D basis (v₁ and the deflated u₂ —
    * [[powerTrajectoryDeflated]]'s direction): the standard
    * visualization / clustering prep after a spectral train. ONE
    * corpus scan computes both dot products — the basis rides as two
    * plan literals, so this stays the map-only serving shape
    * [[project]] set (zero shuffle, scan-stage arithmetic); same
    * truncating e6 rescale per axis.
    */
  def project2(emb: DataFrame, idCol: String, vecCol: String,
               muE6: Array[Long], v1E6: Array[Long],
               v2E6: Array[Long]): DataFrame = {
    val muLit = typedLit(muE6.toSeq)
    val centered = zip_with(col("xe"), muLit, (x, m) => x - m)
    def praw(vE6: Array[Long]) = aggregate(
      zip_with(centered, typedLit(vE6.toSeq), (c, v) => c * v),
      lit(0L), (acc, x) => acc + x)
    quantized(emb, idCol, vecCol)
      .select(col(idCol), praw(v1E6).as("p1raw"), praw(v2E6).as("p2raw"))
      .selectExpr(idCol, "p1raw DIV 1000000 AS p1_e6",
        "p2raw DIV 1000000 AS p2_e6")
  }
}
